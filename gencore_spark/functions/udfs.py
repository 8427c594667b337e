"""Vectorized (Arrow-batched) pandas UDF wrappers around the numpy kernels.

These are the ONLY Python-side execution paths in the pipeline
(``input_hint``: "no per-row Python") — everything else is JVM-side
``pyspark.sql.functions``.  Each wrapper captures a frozen
:class:`~gencore_spark.config.DedupConfig`, so the UDFs are pure functions
of (config, input) — the signature pin.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DedupConfig
from .minhash import perm_params, signatures_many
from .textnorm import extract_text


def extract_text_udf():
    """binary html → extracted text (byte-identical invariant holder)."""

    @F.pandas_udf(T.StringType())
    def _extract(html: pd.Series) -> pd.Series:
        return html.map(lambda b: extract_text(b) if b is not None else "")

    return _extract


def signatures_udf(cfg: DedupConfig):
    """normalized text → struct(minhash array<long>, simhash long).

    One shingle pass for both hashes — the pipeline's hot UDF.
    """
    a, b = perm_params(cfg.num_perms, cfg.seed)
    schema = T.StructType(
        [
            T.StructField("minhash", T.ArrayType(T.LongType())),
            T.StructField("simhash", T.LongType()),
        ]
    )

    @F.pandas_udf(schema)
    def _sig(text: pd.Series) -> pd.DataFrame:
        sigs, fps = signatures_many(text.tolist(), cfg.shingle_k, a, b)
        return pd.DataFrame(
            {"minhash": list(sigs.view(np.int64)), "simhash": fps.view(np.int64)}
        )

    return _sig
