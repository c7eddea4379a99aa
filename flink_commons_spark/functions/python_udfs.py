"""Python UDF / UDAF / UDTF registration — the extension surface.

The reference registers no user functions itself but routes ``ADD
JAR`` + ``CREATE FUNCTION`` so users can (SURVEY §2.6); the PySpark
analog is ``spark.udf.register`` / ``spark.udtf.register``. This
module provides the three kinds with one production-shaped example
each, registered alongside the ``fcs_*`` SQL UDFs:

- **scalar pandas UDF** ``fcs_norm_l2`` — Arrow-batched vector norm
  (the vectorized slow-path escape hatch; JVM expressions stay the
  fast path);
- **grouped-aggregate pandas UDAF** ``fcs_median`` — exact median,
  usable in SQL ``GROUP BY`` (Spark has ``percentile`` but Flink
  users expect a registerable aggregate the module system would
  load);
- **Python UDTF** ``fcs_chunks`` — context-window chunking as a
  LATERAL table function (``FROM docs, LATERAL fcs_chunks(text, 64,
  48)``), one row per chunk. Token/boundary semantics identical to
  ``operators/curation.py:chunk_windows`` (whitespace tokens, window
  ``size``, stride ``stride``).

Scale note: the UDTF is row-at-a-time by design (Spark's UDTF engine);
the chunk OPERATOR for bulk pipelines is the integer-explode
``chunk_windows`` (zero Python in the row path). The UDTF exists for
SQL-surface parity — ad-hoc exploration, not the 100 TB hot path.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf, udtf

# ASCII whitespace only, matching Java regex \s (Spark) and RE2 \s
# (DuckDB oracles) — Python's \s is unicode-aware and would tokenize
# differently around U+3000-style spaces
_WS = re.compile(r"[ \t\n\f\r\x0b]+")


@pandas_udf("double")
def fcs_norm_l2(v: pd.Series) -> pd.Series:
    import numpy as np

    V = np.stack(v.to_numpy()).astype(np.float64)
    return pd.Series(np.sqrt((V * V).sum(axis=1)))


@pandas_udf("double")
def fcs_median(v: pd.Series) -> float:
    return float(v.median())


@udtf(returnType="chunk_id int, chunk_tokens int, chunk string")
class fcs_chunks:
    """LATERAL table function: overlapping context windows of a text.

    Emits ``(chunk_id, chunk_tokens, chunk)`` for windows of ``size``
    whitespace tokens advancing by ``stride`` — chunk ``i`` covers
    tokens ``[i*stride, i*stride + size)``; the last chunk may be
    partial; empty/blank text emits nothing.
    """

    def eval(self, text: str, size: int, stride: int):
        toks = [t for t in _WS.split(text.strip())] if text else []
        toks = [t for t in toks if t]
        n = len(toks)
        if n == 0 or size <= 0 or stride <= 0:
            return
        for i in range((n - 1) // stride + 1):
            window = toks[i * stride : i * stride + size]
            yield i, len(window), " ".join(window)


#: the names :func:`register_python_functions` registers
PYTHON_FUNCTIONS = ("fcs_norm_l2", "fcs_median", "fcs_chunks")


def register_python_functions(spark: SparkSession) -> list[str]:
    """Register the Python UDF/UDAF/UDTF set; returns the names."""
    spark.udf.register("fcs_norm_l2", fcs_norm_l2)
    spark.udf.register("fcs_median", fcs_median)
    spark.udtf.register("fcs_chunks", fcs_chunks)
    return list(PYTHON_FUNCTIONS)
