"""Property-based oracle tests for the scalar expression library.

Hypothesis generates adversarial inputs; each batch is evaluated once
through the Spark expressions and compared against an independent pure-
Python reimplementation of the REFERENCE semantics (SURVEY §2.8), so the
expressions are pinned to the documented behavior rather than to their
own implementation.

Spark-batch pattern: examples are generated up front (one DataFrame per
test, not one Spark job per hypothesis example) — Spark's per-job
latency makes classic per-example property testing impractical.
"""

from __future__ import annotations

import re

from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.functions.core import clip, safe_div
from conte_to_fresco_etl_spark.functions.job import (
    exitcode_case,
    host_list_string,
    std_job_id_extract,
    walltime_seconds,
)
from helpers import decoded

# ---------------------------------------------------------------------------
# pure-Python oracles (reference semantics)
# ---------------------------------------------------------------------------


def oracle_walltime(w: str | None) -> float | None:
    """conte-etl-step-2-processor.py:224-276: numeric passthrough;
    HH:MM:SS; MM:SS; else null; non-numeric components → null."""
    if w is None:
        return None
    if re.fullmatch(r"\d+(\.\d+)?", w):
        return float(w)
    parts = w.split(":")

    def num(x: str) -> float | None:
        try:
            return float(x)
        except ValueError:
            return None

    if len(parts) == 3:
        h, m, s = (num(p) for p in parts)
        if None in (h, m, s):
            return None
        return h * 3600 + m * 60 + s
    if len(parts) == 2:
        m, s = (num(p) for p in parts)
        if None in (m, s):
            return None
        return m * 60 + s
    return None


def oracle_exitcode(ev: str | None, status: str | None) -> str | None:
    """conte-etl-step-2-processor.py:279-333, including the fillna('')
    pre-step on BOTH columns (:299-300): NULLs behave as '' — ('E',
    None) → 'FAILED:' and the fallback always keeps its colon
    (:327-330), so (None, None) → ':'."""
    ev = "" if ev is None else ev
    status = "" if status is None else status
    if ev == "E" and status == "0":
        return "COMPLETED"
    if ev == "E" and status != "0":
        return f"FAILED:{status}"
    if ev == "A":
        return "ABORTED"
    if ev == "S":
        return "STARTED"
    if ev == "Q":
        return "QUEUED"
    return f"{ev}:{status}"


def oracle_hostlist(exec_host: str | None) -> str | None:
    """conte-etl-step-2-processor.py:566-616 (sorted-set variant)."""
    if exec_host is None:
        return None
    hosts = sorted(set(re.findall(r"([^/+]+)/", exec_host)))
    return "{" + ",".join(hosts) + "}"


def oracle_jobid(v: str | None) -> str | None:
    """conte-etl-step-2-processor.py:496-507: JOB + first digit run."""
    if v is None:
        return None
    m = re.search(r"(\d+)", v)
    return f"JOB{m.group(1)}" if m else v


# ---------------------------------------------------------------------------
# strategies
# ---------------------------------------------------------------------------

_wt_part = st.one_of(
    st.integers(0, 99).map(str),
    st.just(""),
    st.text(alphabet="0123456789abzZ .:-", min_size=0, max_size=4),
)
walltimes = st.one_of(
    st.integers(0, 10**6).map(str),
    st.floats(0, 1e5, allow_nan=False).map(lambda f: f"{f:.2f}"),
    st.tuples(_wt_part, _wt_part).map(lambda t: ":".join(t)),
    st.tuples(_wt_part, _wt_part, _wt_part).map(lambda t: ":".join(t)),
    st.text(alphabet="0123456789:.xGARBAGE", max_size=12),
)

events = st.one_of(
    st.sampled_from(["E", "A", "S", "Q", "D", "R", ""]),
    st.text(alphabet="EASQXZ", max_size=2),
)
statuses = st.one_of(
    st.none(),
    st.just("0"),
    st.integers(-127, 271).map(str),
    st.text(alphabet="0123456789-x", max_size=4),
)

hostnames = st.text(
    alphabet="abcz0189-", min_size=1, max_size=8
).filter(lambda s: "/" not in s and "+" not in s)
exec_hosts = st.lists(
    st.tuples(hostnames, st.integers(0, 15)), min_size=1, max_size=5
).map(lambda l: "+".join(f"{h}/{c}" for h, c in l))

jobids = st.one_of(
    st.integers(0, 10**7).map(lambda i: f"jobID{i}"),
    st.integers(0, 10**7).map(lambda i: f"{i}.conte-adm"),
    st.text(alphabet="jobJOBID0123456789.-adm", max_size=14),
)


# ---------------------------------------------------------------------------
# batch evaluation helper
# ---------------------------------------------------------------------------


def _eval_batch(spark, values, expr_fn, n_cols=1):
    rows = [(i, *(v if isinstance(v, tuple) else (v,))) for i, v in enumerate(values)]
    schema = "i long, " + ", ".join(f"c{j} string" for j in range(n_cols))
    df = spark.createDataFrame(rows, schema)
    cols = [F.col(f"c{j}") for j in range(n_cols)]
    out = df.select("i", expr_fn(*cols).alias("out")).collect()
    return [r["out"] for r in sorted(out, key=lambda r: r["i"])]


@settings(max_examples=30, deadline=None)
@given(st.lists(walltimes, min_size=1, max_size=60))
def test_walltime_matches_reference(spark, batch):
    got = _eval_batch(spark, batch, walltime_seconds)
    want = [oracle_walltime(w) for w in batch]
    assert got == want, list(zip(batch, got, want))


@settings(max_examples=30, deadline=None)
@given(st.lists(st.tuples(events, statuses), min_size=1, max_size=60))
def test_exitcode_matches_reference(spark, batch):
    got = _eval_batch(spark, batch, exitcode_case, n_cols=2)
    want = [oracle_exitcode(e, s) for e, s in batch]
    assert got == want, list(zip(batch, got, want))


@settings(max_examples=30, deadline=None)
@given(st.lists(exec_hosts, min_size=1, max_size=60))
def test_hostlist_matches_reference(spark, batch):
    got = _eval_batch(spark, batch, host_list_string)
    want = [oracle_hostlist(h) for h in batch]
    assert got == want, list(zip(batch, got, want))


@settings(max_examples=30, deadline=None)
@given(st.lists(jobids, min_size=1, max_size=60))
def test_jobid_matches_reference(spark, batch):
    got = _eval_batch(spark, batch, std_job_id_extract)
    want = [oracle_jobid(v) for v in batch]
    assert got == want, list(zip(batch, got, want))


def test_safe_div_and_clip_semantics(spark):
    """F1: a/b with b=0 (or null result) → 0.0; F2: clamp >= 0."""
    df = spark.createDataFrame(
        [(1.0, 2.0), (1.0, 0.0), (-3.0, 1.0), (0.0, 0.0)], "a double, b double"
    )
    out = df.select(
        safe_div(F.col("a"), F.col("b")).alias("d"),
        clip(F.col("a"), lo=0.0).alias("c"),
    ).collect()
    assert [r["d"] for r in out] == [0.5, 0.0, -3.0, 0.0]
    assert [r["c"] for r in out] == [1.0, 1.0, 0.0, 0.0]


# ---------------------------------------------------------------------------
# Arrow/expression twin equality for document profiling
# ---------------------------------------------------------------------------

# adversarial text: unicode, ASCII whitespace runs (incl. \x0b\x0c),
# punctuation, digits — the surfaces where Java regex vs Python re or
# NumPy vs JVM rounding could diverge
_texts = st.one_of(
    st.text(
        alphabet=st.one_of(
            st.characters(codec="utf-8", exclude_categories=("Cs",)),
            st.sampled_from(list(" \t\n\r\x0b\x0c.!?,;:'\"0123456789")),
        ),
        max_size=80,
    ),
    # stopword-laden token streams with adversarial separators
    st.lists(
        st.sampled_from(
            ["the", "and", "der", "und", "le", "la", "fox", "123", ".!?"]
        ),
        max_size=12,
    ).map(lambda ws: "\t".join(ws)),
)


@settings(max_examples=10, deadline=None)
@given(st.lists(_texts, min_size=1, max_size=40))
def test_profile_arrow_twin_matches_expr_twin(spark, batch):
    """profile_documents(impl='arrow') must be VALUE-IDENTICAL to the
    expression form (which the DuckDB oracle mirrors) on arbitrary
    text — tokenizer edge semantics, ratio operand order, half-up
    rounding, md5-derived fingerprint/simhash bits."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        profile_documents,
    )

    rows = [(i, t) for i, t in enumerate(batch)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, profile_documents(docs, impl="arrow").collect()))
    e = sorted(map(tuple, profile_documents(docs, impl="expr").collect()))
    assert a == e


@settings(max_examples=10, deadline=None)
@given(st.lists(_texts, min_size=1, max_size=40))
# a leading digit on line i once met trim's character-set argument
@example(batch=["0*"])
@example(batch=["0\n*"])
def test_quality_arrow_twin_matches_expr_twin(spark, batch):
    """quality_filters(impl='arrow') must be VALUE-IDENTICAL to the
    expression form (which the DuckDB oracle mirrors) on arbitrary
    text — line-trim semantics, n-gram multiplicity, count-based
    ratios, the composed keep verdict."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        quality_filters,
    )

    rows = [(i, t) for i, t in enumerate(batch)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(map(tuple, quality_filters(docs, impl="arrow").collect()))
    e = sorted(map(tuple, quality_filters(docs, impl="expr").collect()))
    assert a == e


@settings(max_examples=8, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=60),
    st.integers(min_value=4, max_value=25),
)
def test_pack_sequences_invariants(spark, token_counts, budget):
    """Greedy packing invariants on arbitrary inputs: (1) every doc is
    placed exactly once; (2) a multi-doc sequence never exceeds the
    budget; (3) offsets are the running fill in id order; (4) sequence
    ids are contiguous from 0 per shard."""
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        pack_sequences,
    )

    rows = [(i, "w " * n) for i, n in enumerate(token_counts)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = sorted(
        pack_sequences(docs, budget=budget, n_shards=3).collect(),
        key=lambda r: (r["shard"], r["doc_id"]),
    )
    assert len(out) == len(token_counts)          # every doc placed once
    by_shard: dict = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        fill: dict = {}
        last_seq = 0
        for r in rs:                               # doc_id ascending
            assert r["shard"] == r["doc_id"] % 3
            assert r["seq_id"] >= last_seq          # never goes back
            assert r["seq_id"] <= last_seq + 1      # contiguous
            last_seq = r["seq_id"]
            assert r["tok_offset"] == fill.get(r["seq_id"], 0)
            fill[r["seq_id"]] = fill.get(r["seq_id"], 0) + r["n_tokens"]
        for seq, total in fill.items():
            n_docs = sum(1 for r in rs if r["seq_id"] == seq)
            assert total <= budget or n_docs == 1


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd"]),
            min_size=0,
            max_size=18,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_repeated_spans_matches_python_oracle(spark, token_lists):
    """repeated_spans on arbitrary tiny-vocab corpora (forcing heavy
    k-gram collisions) must equal an independent pure-Python
    reimplementation of the marking + gap-and-islands semantics, and
    spans must be disjoint, in-bounds, and length-consistent."""
    from collections import Counter

    from conte_to_fresco_etl_spark.operators.dedup import repeated_spans

    k, min_count = 3, 2
    rows = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["n_tokens"],
         r["span_text"])
        for r in repeated_spans(docs, k=k, min_count=min_count).collect()
    }

    # pure-Python oracle
    counts: Counter = Counter()
    grams_by_doc: dict[int, list[tuple[int, str]]] = {}
    for i, toks in enumerate(token_lists):
        gs = [
            (p, " ".join(toks[p : p + k]))
            for p in range(len(toks) - k + 1)
        ]
        grams_by_doc[i] = gs
        counts.update(g for _, g in gs)
    want = set()
    for i, toks in enumerate(token_lists):
        covered = sorted(
            {
                pos
                for p, g in grams_by_doc[i]
                if counts[g] >= min_count
                for pos in range(p, p + k)
            }
        )
        # islands of consecutive covered positions
        start = None
        prev = None
        for pos in covered + [None]:
            if start is None:
                start = prev = pos
                continue
            if pos is not None and pos == prev + 1:
                prev = pos
                continue
            want.add(
                (i, start, prev, prev - start + 1,
                 " ".join(toks[start : prev + 1]))
            )
            start = prev = pos
    assert got == want
    # structural invariants: disjoint, sorted, in-bounds
    by_doc: dict[int, list] = {}
    for d, s, e, n, _ in got:
        assert 0 <= s <= e < len(token_lists[d]) and n == e - s + 1
        by_doc.setdefault(d, []).append((s, e))
    for spans in by_doc.values():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert e1 + 1 < s2  # disjoint AND non-adjacent (maximal)


@settings(max_examples=4, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["x", "y", "z"]), min_size=0, max_size=10),
        min_size=2,
        max_size=8,
    ),
    st.integers(min_value=2, max_value=12),
)
def test_decontaminate_bloom_equals_exact_property(spark, token_lists, bits):
    """For any corpus split and any bitmap density (including
    FP-saturated 2-bit maps), the Bloom path's output is identical to
    the exact path — the confirm join makes correctness independent of
    the filter's false-positive rate."""
    from conte_to_fresco_etl_spark.operators.dedup import (
        decontaminate,
        decontaminate_bloom,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(token_lists)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    train = docs.filter("doc_id % 2 = 0")
    ev = docs.filter("doc_id % 2 = 1")
    exact = sorted(map(tuple, decontaminate(train, ev, ngram_n=2).collect()))
    bloom = sorted(
        map(
            tuple,
            decontaminate_bloom(
                train, ev, ngram_n=2, bits_per_gram=bits
            ).collect(),
        )
    )
    assert bloom == exact


# Codec round trips over pinned payloads (fixtures/media/): each case is
# an edge of the generator the property test drew from — min/max/odd
# sizes, palette sizes, interlace on and off, mono and stereo, every
# stereo mode and predictor order.


_GIF_CASES = [
    (1, 1, 1, False, 0), (1, 1, 64, True, 1), (24, 24, 64, False, 2),
    (24, 24, 2, True, 3), (1, 24, 5, True, 4), (24, 1, 17, False, 5),
    (7, 13, 33, True, 6), (13, 7, 3, False, 7), (9, 9, 64, True, 2**32 - 1),
]


def test_gif_roundtrip_property():
    """decode_gif inverts the GIF encoder for any size (including
    1x1), palette cardinality, and interlace mode."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import decode_gif

    for h, w, ncol, interlace, seed in _GIF_CASES:
        rng = np.random.default_rng(seed)
        pal = rng.integers(0, 256, size=(ncol, 3), dtype=np.uint8)
        img = pal[rng.integers(0, ncol, size=(h, w))]
        out = decoded(decode_gif, "encode_gif", img, interlace=interlace)
        assert out.shape == (h, w, 3)
        assert np.array_equal(out.astype(np.uint8), img)


_JPEG_SOLID_CASES = [
    (1, 1, 0, 0, 0), (40, 40, 255, 255, 255), (1, 40, 12, 200, 99),
    (40, 1, 255, 0, 128), (8, 8, 17, 34, 51), (9, 17, 250, 5, 0),
    (33, 39, 128, 128, 128), (7, 5, 0, 255, 0),
]


def test_jpeg_solid_roundtrip_property():
    """Solid images are DC-only in every block: baseline JPEG must
    reconstruct them within 1 level at q=95 for ANY size, including
    non-multiple-of-8 and 1x1."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import decode_jpeg

    for h, w, r, g, b in _JPEG_SOLID_CASES:
        img = np.full((h, w, 3), [r, g, b], dtype=np.uint8)
        out = decoded(decode_jpeg, "encode_jpeg", img, quality=95)
        assert out.shape == (h, w, 3)
        assert np.abs(out - img).max() <= 1.0


_URL_CHARS = st.text(
    alphabet="abcXYZ019-._~/?&=#%:",
    min_size=0,
    max_size=30,
)


@settings(max_examples=15, deadline=None)
@given(st.lists(_URL_CHARS, min_size=1, max_size=24))
def test_url_normalize_idempotent(spark, tails):
    """Canonicalization must be a projection: applying it twice equals
    applying it once, for arbitrary junk paths/queries/fragments —
    otherwise URL-dedup results depend on how many cleaning passes a
    pipeline happened to run."""
    from conte_to_fresco_etl_spark.functions.url import url_normalize

    rows = [
        (i, f"https://Ex{i % 3}.COM:443/{t}") for i, t in enumerate(tails)
    ] + [(len(tails), "no scheme at all")]
    df = spark.createDataFrame(rows, "i long, url string")
    once = df.select("i", url_normalize("url").alias("n"))
    twice = once.select("i", url_normalize("n").alias("n"))
    a = {r["i"]: r["n"] for r in once.collect()}
    b = {r["i"]: r["n"] for r in twice.collect()}
    assert a == b


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet="ab \t\n\x07\x00éé",
            min_size=0,
            max_size=24,
        ),
        min_size=1,
        max_size=24,
    )
)
def test_normalize_text_idempotent(spark, texts):
    from conte_to_fresco_etl_spark.operators.text_analysis import (
        normalize_text,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    once = normalize_text(df)
    twice = normalize_text(
        once.select("doc_id", F.col("norm_text").alias("text"))
    )
    a = {r["doc_id"]: r["norm_text"] for r in once.collect()}
    b = {r["doc_id"]: r["norm_text"] for r in twice.collect()}
    assert a == b
    # and the second pass reports nothing changed
    assert all(not r["changed"] for r in twice.collect())


_FLAC_CASES = [
    (1, 1, "independent", 0, 0), (1, 2, "mid-side", 8, 1),
    (2, 2, "left-side", 1, 2), (511, 1, "independent", 8, 3),
    (512, 2, "right-side", 0, 4), (513, 2, "mid-side", 4, 5),
    (3000, 1, "independent", 2, 6), (3000, 2, "independent", 8, 7),
    (1537, 2, "left-side", 8, 2**32 - 1), (777, 2, "right-side", 3, 9),
]


def test_flac_roundtrip_property():
    """decode_flac inverts the FLAC encoder for int16 signals across
    lengths (incl. partial final blocks), channel counts, stereo modes,
    and predictor configurations."""
    import numpy as np

    from conte_to_fresco_etl_spark.operators.media import decode_flac

    for n, ch, stereo, lpc_order, seed in _FLAC_CASES:
        if stereo != "independent" and ch != 2:
            stereo = "independent"
        rng = np.random.default_rng(seed)
        # mix of tonal and noisy content exercises both predictor paths
        t = np.arange(n)
        base = 5000 * np.sin(2 * np.pi * t / max(3, n // 7))
        sig = (base[:, None] + rng.normal(0, 300, (n, ch))).clip(
            -32768, 32767
        ).astype(np.int16)
        out = decoded(decode_flac, "encode_flac", sig, block_size=512,
                      stereo=stereo, lpc_order=lpc_order)
        want = sig.astype(np.float32) / np.float32(32768.0)
        assert out.shape == (n, ch)
        assert np.array_equal(out, want), (n, ch, stereo, lpc_order)
