"""Expression library — every reference scalar function (SURVEY §2.8
F1-F15) as a pure ``pyspark.sql.Column`` expression, plus text / vector
primitives for the training-data operators.

Zero Python UDFs: each function returns a Column tree that stays inside
whole-stage codegen (SURVEY §2.11).
"""

from conte_to_fresco_etl_spark.functions.core import (
    calculate_rate,
    clip,
    safe_div,
)
from conte_to_fresco_etl_spark.functions.job import (
    exitcode_case,
    host_list_array,
    host_list_string,
    parse_acct_timestamp,
    std_job_id_extract,
    std_job_id_replace,
    walltime_seconds,
)
from conte_to_fresco_etl_spark.functions.text import (
    char_shingles,
    doc_fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    simhash32,
    stopword_ratio,
    token_count,
    tokens,
)

__all__ = [
    "safe_div",
    "clip",
    "calculate_rate",
    "std_job_id_replace",
    "std_job_id_extract",
    "walltime_seconds",
    "parse_acct_timestamp",
    "host_list_array",
    "host_list_string",
    "exitcode_case",
    "tokens",
    "token_count",
    "char_shingles",
    "punct_ratio",
    "stopword_ratio",
    "quality_score",
    "lang_id",
    "doc_fingerprint",
    "simhash32",
]
