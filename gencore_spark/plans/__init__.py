from .inspect import (
    arrow_eval_count,
    explain_str,
    scan_read_columns,
)
from .metrics_api import driver_stage_metrics

__all__ = [
    "arrow_eval_count",
    "driver_stage_metrics",
    "explain_str",
    "scan_read_columns",
]
