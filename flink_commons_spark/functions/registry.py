"""SQL-function surface: the LLM-pipeline operators as SQL UDFs.

The reference's only function-extension hook is ``ADD JAR`` + ``CREATE
FUNCTION`` routed through the generic executor (``SURVEY.md §2.6``).
The PySpark-native equivalent exposes this engine's operators as Spark
**SQL UDFs** (``CREATE FUNCTION ... RETURN <expr>``, Spark 4) so any
``sql-submit`` script can call them — no jar, no Python round trip:
the bodies are pure Catalyst expressions that inline into the calling
query and stay inside whole-stage codegen.

Registered functions (all prefixed ``fcs_``):

========================  ============================================
``fcs_token_count(s)``        whitespace token count
``fcs_bpe_token_count(s)``    letter/digit/punct segment count
``fcs_fingerprint(s)``        56-bit md5 fingerprint of normalized text
``fcs_fingerprint_hex(s)``    full md5 hex of normalized text
``fcs_quality(s)``            composite quality score in [0, 1]
``fcs_lang_id(s)``            stopword-vote language guess
``fcs_punct_ratio(s)``        non-word-char fraction
``fcs_avg_word_len(s)``       mean token length
``fcs_time_bucket(w, ts)``    ts floored to a w-second bucket
``fcs_cosine(a, b)``          cosine similarity of two double arrays
``fcs_split_bucket(k)``       stable md5 split bucket in [0, 10000)
``fcs_split(k)``              train/val/test label (80/10/10 cuts)
========================  ============================================
"""

from __future__ import annotations

from flink_commons_spark.operators.text import BPE_ISH_PATTERN, LANG_MARKERS

_TOKS = r"filter(split(trim(lower(s)), '\\s+'), t -> t != '')"
_RAW_TOKS = r"filter(split(trim(s), '\\s+'), t -> t != '')"
_NORM = f"array_join({_TOKS}, ' ')"

_PUNCT_RATIO = (
    r"length(regexp_replace(s, '[\\w\\s]', '')) / greatest(length(s), 1)"
)
_AVG_WORD_LEN = (
    f"aggregate({_RAW_TOKS}, cast(0 as bigint), (acc, t) -> acc + length(t))"
    f" / greatest(size({_RAW_TOKS}), 1)"
)
_QUALITY = (
    "round(0.4 * least(length(s) / 500.0, 1.0)"
    f" + 0.3 * (1.0 - least(({_PUNCT_RATIO}) * 5, 1.0))"
    f" + 0.3 * (CASE WHEN ({_AVG_WORD_LEN}) BETWEEN 3 AND 10 THEN 1.0 ELSE 0.5 END), 6)"
)


def _lang_id_expr() -> str:
    scores = []
    for lang, markers in LANG_MARKERS:
        in_list = ", ".join(f"'{m}'" for m in markers)
        scores.append((lang, f"size(filter({_TOKS}, t -> t IN ({in_list})))"))
    best = "greatest(" + ", ".join(s for _, s in scores) + ")"
    cases = " ".join(
        f"WHEN ({s}) = ({best}) AND ({best}) > 0 THEN '{lang}'" for lang, s in scores
    )
    return f"CASE {cases} ELSE 'und' END"


def definitions() -> dict[str, str]:
    """function name → full CREATE statement."""
    defs = {
        "fcs_token_count": (
            f"(s STRING) RETURNS INT RETURN size({_TOKS})"
        ),
        "fcs_bpe_token_count": (
            # backslashes must be doubled inside the SQL string literal
            f"(s STRING) RETURNS INT RETURN "
            f"size(regexp_extract_all(s, '{BPE_ISH_PATTERN.replace(chr(92), chr(92) * 2)}', 0))"
        ),
        "fcs_fingerprint": (
            f"(s STRING) RETURNS BIGINT RETURN "
            f"cast(conv(substring(md5({_NORM}), 1, 14), 16, 10) as bigint)"
        ),
        "fcs_fingerprint_hex": (
            f"(s STRING) RETURNS STRING RETURN md5({_NORM})"
        ),
        "fcs_quality": f"(s STRING) RETURNS DOUBLE RETURN {_QUALITY}",
        "fcs_lang_id": f"(s STRING) RETURNS STRING RETURN {_lang_id_expr()}",
        "fcs_punct_ratio": (
            f"(s STRING) RETURNS DOUBLE RETURN round({_PUNCT_RATIO}, 6)"
        ),
        "fcs_avg_word_len": (
            f"(s STRING) RETURNS DOUBLE RETURN round({_AVG_WORD_LEN}, 6)"
        ),
        "fcs_time_bucket": (
            "(w BIGINT, ts TIMESTAMP) RETURNS TIMESTAMP RETURN "
            "timestamp_seconds(floor(cast(ts as double) / w) * w)"
        ),
        "fcs_cosine": (
            "(a ARRAY<DOUBLE>, b ARRAY<DOUBLE>) RETURNS DOUBLE RETURN "
            "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)"
            " / (sqrt(aggregate(zip_with(a, a, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v))"
            " * sqrt(aggregate(zip_with(b, b, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)))"
        ),
        # deterministic split assignment (operators/sampling.py semantics):
        # a pure function of the key, so reruns/backfills never move a row
        "fcs_split_bucket": (
            "(k STRING) RETURNS BIGINT RETURN "
            "cast(conv(substring(md5(concat('split|', k)), 1, 8), 16, 10) as bigint) % 10000"
        ),
        "fcs_split": (
            "(k STRING) RETURNS STRING RETURN "
            "CASE WHEN cast(conv(substring(md5(concat('split|', k)), 1, 8), 16, 10) as bigint) % 10000 < 8000 THEN 'train' "
            "WHEN cast(conv(substring(md5(concat('split|', k)), 1, 8), 16, 10) as bigint) % 10000 < 9000 THEN 'val' "
            "ELSE 'test' END"
        ),
    }
    return {
        name: f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{body}"
        for name, body in defs.items()
    }


def register_all(spark) -> list[str]:
    """Register every fcs_* function on the session; returns the names.

    SQL UDFs (pure-expression scalars) plus the Python set — scalar
    pandas UDF, grouped-agg pandas UDAF, and UDTF
    (:mod:`flink_commons_spark.functions.python_udfs`).
    """
    names = []
    for name, ddl in definitions().items():
        spark.sql(ddl)
        names.append(name)
    from flink_commons_spark.functions.python_udfs import register_python_functions

    names.extend(register_python_functions(spark))
    return names


def ensure_registered(spark) -> None:
    """:func:`register_all` unless every ``fcs_*`` name already resolves
    on this session. Temporary functions live per session, so a
    ``spark.newSession()`` registers again; checking every name costs
    ~35 ms where a full registration costs 0.26–0.4 s."""
    from flink_commons_spark.functions.python_udfs import PYTHON_FUNCTIONS

    if not all(
        spark.catalog.functionExists(name) for name in (*definitions(), *PYTHON_FUNCTIONS)
    ):
        register_all(spark)
