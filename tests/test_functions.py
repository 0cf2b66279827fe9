"""Unit tests for the expression library (SURVEY §2.8 F1-F15) against the
reference's documented semantics (values hand-derived from
/root/reference/transform_conte_ts_data.py and
conte-etl-step-2-processor.py — not copied code)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.functions import (
    clip,
    doc_fingerprint,
    exitcode_case,
    host_list_string,
    lang_id,
    punct_ratio,
    quality_score,
    safe_div,
    simhash32,
    std_job_id_extract,
    std_job_id_replace,
    stopword_ratio,
    token_count,
    walltime_seconds,
)
from conte_to_fresco_etl_spark.functions.text import (
    char_shingles,
    md5_long,
)


def one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


# F1 safe_division (transform_conte_ts_data.py:125-146)
def test_safe_div(spark):
    assert one(spark, safe_div(F.lit(10.0), F.lit(4.0))) == 2.5
    assert one(spark, safe_div(F.lit(10.0), F.lit(0.0))) == 0.0
    assert one(spark, safe_div(F.lit(10.0), F.lit(None).cast("double"))) == 0.0
    assert one(spark, safe_div(F.lit(1.0), F.lit(0.0), default=-1.0)) == -1.0


# F2 validate_metric clamp (transform:149-165); NaN passes through (np.clip)
def test_clip(spark):
    assert one(spark, clip(F.lit(-5.0))) == 0.0
    assert one(spark, clip(F.lit(5.0))) == 5.0
    assert one(spark, clip(F.lit(150.0), lo=0.0, hi=100.0)) == 100.0
    assert math.isnan(one(spark, clip(F.lit(float("nan")))))


# F9 jobID standardization, both variants
def test_std_job_id(spark):
    assert one(spark, std_job_id_replace(F.lit("jobID123456"))) == "JOB123456"
    assert one(spark, std_job_id_replace(F.lit("JobId77"))) == "JOB77"
    assert one(spark, std_job_id_extract(F.lit("123456.conte-adm"))) == "JOB123456"
    assert one(spark, std_job_id_extract(F.lit("jobID123456"))) == "JOB123456"
    assert one(spark, std_job_id_extract(F.lit("nodigits"))) == "nodigits"


# F10 walltime → seconds (processor:224-276)
@pytest.mark.parametrize(
    "raw,expected",
    [
        ("02:30:00", 9000.0),
        ("30:15", 1815.0),
        ("3600", 3600.0),
        ("1.5", 1.5),
        ("garbage", None),
        ("1:2:3:4", None),
    ],
)
def test_walltime_seconds(spark, raw, expected):
    got = one(spark, walltime_seconds(F.lit(raw)))
    assert got == expected


# F11 exec_host → {a,b} (processor:566-616), deterministically sorted
def test_host_list(spark):
    got = one(
        spark,
        host_list_string(F.lit("conte-a084/0+conte-a084/1+conte-a085/0")),
    )
    assert got == "{conte-a084,conte-a085}"
    assert one(spark, host_list_string(F.lit("n1/0"))) == "{n1}"


# F12 exitcode CASE (processor:279-333)
@pytest.mark.parametrize(
    "ev,st,expected",
    [
        ("E", "0", "COMPLETED"),
        ("E", "137", "FAILED:137"),
        ("E", None, "FAILED:"),   # fillna('') parity (processor:283)
        ("A", None, "ABORTED"),
        ("S", "0", "STARTED"),
        ("Q", None, "QUEUED"),
        ("X", "9", "X:9"),
        ("X", None, "X:"),        # fallback with filled '' keeps the colon
    ],
)
def test_exitcode(spark, ev, st, expected):
    got = one(
        spark,
        exitcode_case(F.lit(ev), F.lit(st) if st is not None else F.lit(None).cast("string")),
    )
    assert got == expected


# ------------------------- text expressions -------------------------------

def test_token_count(spark):
    assert one(spark, token_count(F.lit("a b  c"))) == 3
    assert one(spark, token_count(F.lit("   "))) == 0
    assert one(spark, token_count(F.lit(""))) == 0


def test_char_shingles(spark):
    got = one(spark, char_shingles(F.lit("abcd"), n=3))
    assert got == ["abc", "bcd"]
    assert one(spark, char_shingles(F.lit("ab"), n=3)) == []


def test_punct_and_stopword_ratio(spark):
    assert one(spark, punct_ratio(F.lit("ab!?"))) == 0.5
    assert one(spark, punct_ratio(F.lit(""))) == 0.0
    assert one(spark, stopword_ratio(F.lit("the cat and dog run"))) == 0.4


def test_quality_score_bounds(spark):
    v = one(spark, quality_score(F.lit("the quick brown fox and the lazy dog")))
    assert 0.0 <= v <= 1.0


def test_lang_id(spark):
    assert one(spark, lang_id(F.lit("the cat of the house"))) == "en"
    assert one(spark, lang_id(F.lit("der hund und die katze ist"))) == "de"
    assert one(spark, lang_id(F.lit("zzz qqq"))) == "und"


def test_md5_long_matches_duckdb(spark):
    import duckdb

    got = one(spark, md5_long(F.lit("hello")))
    want = duckdb.sql(
        "SELECT CAST('0x' || substr(md5('hello'), 1, 15) AS BIGINT)"
    ).fetchone()[0]
    assert got == want


def test_fingerprint_normalization(spark):
    a = one(spark, doc_fingerprint(F.lit("  Hello   World ")))
    b = one(spark, doc_fingerprint(F.lit("hello world")))
    assert a == b


def test_simhash_similar_docs_close(spark):
    a = one(spark, simhash32(F.lit("the quick brown fox jumps over the lazy dog")))
    b = one(spark, simhash32(F.lit("the quick brown fox jumps over the lazy cat")))
    c = one(spark, simhash32(F.lit("completely different words entirely unrelated text")))
    def ham(x, y):
        return bin((x ^ y) & 0xFFFFFFFF).count("1")
    assert ham(a, b) < ham(a, c)


# ------------------------- vector expressions -----------------------------

# ---------------------------------------------------------------------------
# TIMESTAMP_NTZ robustness (the driver's session reads tz-naive parquet as
# NTZ; round-2 regression — CAST(ts AS DOUBLE)/unix_micros are LTZ-only)
# ---------------------------------------------------------------------------

def test_normalize_ntz_retags_as_utc_instants(spark, tmp_path):
    from conte_to_fresco_etl_spark.functions.core import normalize_ntz
    import pyspark.sql.functions as F

    path = str(tmp_path / "ntz.parquet")
    spark.sql(
        "SELECT TIMESTAMP_NTZ'2015-03-01 10:00:00' AS ts, 1 AS v"
    ).write.parquet(path)
    df = spark.read.parquet(path)
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    out = normalize_ntz(df)
    assert dict(out.dtypes)["ts"] == "timestamp"
    # under the pinned UTC session tz the naive wall-clock IS the UTC
    # instant: epoch must equal the hand-computed UTC epoch
    got = out.select(F.unix_micros("ts").alias("us")).first()["us"]
    import calendar
    assert got == calendar.timegm((2015, 3, 1, 10, 0, 0)) * 1_000_000
    # LTZ frames pass through untouched (same plan object)
    assert normalize_ntz(out) is out


def test_sessionize_accepts_ntz_frames(spark, tmp_path):
    from conte_to_fresco_etl_spark.operators.sessions import sessionize_events

    path = str(tmp_path / "ev_ntz.parquet")
    spark.sql(
        """
        SELECT * FROM VALUES
          (1L, TIMESTAMP_NTZ'2015-03-01 10:00:00', 7L),
          (2L, TIMESTAMP_NTZ'2015-03-01 10:10:00', 7L),
          (3L, TIMESTAMP_NTZ'2015-03-01 11:30:00', 7L)
          AS t(event_id, ts, user_id)
        """
    ).write.parquet(path)
    ev = spark.read.parquet(path)
    assert dict(ev.dtypes)["ts"] == "timestamp_ntz"
    rows = sessionize_events(ev, gap_minutes=30).orderBy("session_id").collect()
    assert [(r["session_id"], r["n_events"]) for r in rows] == [(0, 2), (1, 1)]


def test_normalize_ntz_is_session_independent(spark, tmp_path):
    """Under a NON-UTC session timezone the retag must still yield the
    naive-as-UTC instant, and must NOT mutate the caller's session
    timezone (the r3 advisor finding: the old form set UTC globally as
    a side effect).  Asia/Kolkata has no DST, so the retag is exact."""
    from conte_to_fresco_etl_spark.functions.core import normalize_ntz
    import calendar
    import pyspark.sql.functions as F

    path = str(tmp_path / "ntz_tz.parquet")
    spark.sql(
        "SELECT TIMESTAMP_NTZ'2015-03-01 10:00:00' AS ts, 1 AS v"
    ).write.parquet(path)
    before = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        df = spark.read.parquet(path)
        assert dict(df.dtypes)["ts"] == "timestamp_ntz"
        got = (
            normalize_ntz(df)
            .select(F.unix_micros("ts").alias("us"))
            .first()["us"]
        )
        assert got == calendar.timegm((2015, 3, 1, 10, 0, 0)) * 1_000_000
        assert (
            spark.conf.get("spark.sql.session.timeZone") == "Asia/Kolkata"
        ), "normalize_ntz mutated the caller's session timezone"
    finally:
        spark.conf.set("spark.sql.session.timeZone", before)


def test_url_host_and_normalize_cases(spark):
    from conte_to_fresco_etl_spark.functions.url import (
        url_host,
        url_normalize,
    )

    cases = [
        (1, "HTTPS://WWW.Example.COM:443/Path/Sub/?utm_source=x&q=1#f",
         "example.com", "https://www.example.com/Path/Sub?q=1"),
        (2, "http://example.com:80/", "example.com", "http://example.com"),
        (3, "http://example.com:8080/x", "example.com",
         "http://example.com:8080/x"),  # non-default port KEPT in norm
        (4, "https://a.b.c/path//", "a.b.c", "https://a.b.c/path"),
        (5, "https://site.org/p?a=1&gclid=zz&b=2", "site.org",
         "https://site.org/p?a=1&b=2"),
        (6, "not a url", None, "not a url"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _, _ in cases], "i long, url string"
    )
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            url_host("url").alias("h"),
            url_normalize("url").alias("n"),
        ).collect()
    }
    for i, _, h, n in cases:
        assert got[i]["h"] == h, i
        assert got[i]["n"] == n, i


def test_url_normalize_anchored_tracking_params(spark):
    """Tracking-param removal must be separator-anchored: lookalike
    names survive, and consecutive/leading tracking params are removed
    with their separators repaired."""
    from conte_to_fresco_etl_spark.functions.url import url_normalize

    cases = [
        (1, "https://a.com/p?xfbclid=1", "https://a.com/p?xfbclid=1"),
        (2, "https://a.com/p?last_utm_source=x&q=1",
         "https://a.com/p?last_utm_source=x&q=1"),
        (3, "https://a.com/p?utm_a=1&utm_b=2&q=3", "https://a.com/p?q=3"),
        (4, "https://a.com/p?utm_a=1&utm_b=2", "https://a.com/p"),
        (5, "https://a.com/p?a=1&fbclid=x&b=2", "https://a.com/p?a=1&b=2"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _ in cases], "i long, url string"
    )
    got = {
        r["i"]: r["n"]
        for r in df.select("i", url_normalize("url").alias("n")).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, i
