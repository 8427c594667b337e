from .components import connected_components
from .consensus import consensus_vote
from .exact import (
    distinct_text_reps,
    route,
    with_doc_ids,
    with_signatures,
    with_text_hash,
)
from .lsh import band_explode
from .verify import verify_pairs

__all__ = [
    "band_explode",
    "connected_components",
    "consensus_vote",
    "distinct_text_reps",
    "route",
    "verify_pairs",
    "with_doc_ids",
    "with_signatures",
    "with_text_hash",
]
