from .tables import TableIO

__all__ = ["TableIO"]
