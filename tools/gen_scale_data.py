#!/usr/bin/env python
"""Deterministic one-decade scale-up of the driver testdata.

Builds sf1 (10x sf0.1) under ``.scaledata/sf1/`` by replicating the
driver's sf0.1 parquet with structure-preserving transforms.  The goal
is a dataset whose *per-query work* is an honest 10x of sf0.1 — so the
scaling bench (tools/bench_scaling.py, timing through
``measure.min_time``) can measure empirical time ratios instead of
arguing from plan shapes.

Replication rules (replica r in 0..9; r=0 is the original data):

Relational tables (TPC-H-ish):
  * region / nation — fixed dimensions, copied once (TPC-H semantics:
    they do not scale with sf).
  * customer / supplier / part / orders / lineitem — every surrogate
    and foreign key is offset by ``r * (max_key + 1)`` consistently
    across tables, so FK join fan-outs, orphan rates, group
    cardinalities, and key distributions all scale linearly and
    referential structure is preserved exactly.
  * events — event_id and user_id offset (user cardinality scales
    10x); timestamps keep the original one-month window (more traffic
    in the same window, the realistic way an event stream grows).

documents:
  * doc_id offset; replica r>0 texts pass through a Caesar rotation of
    the LETTERS by r (a..z and A..Z rotate; whitespace/digits/punct
    untouched).  A CHARACTER-level bijection per replica means BOTH
    char-shingle and word-shingle Jaccard structure within a replica
    is IDENTICAL to the base corpus (every shingle maps bijectively),
    while cross-replica shingles agree only by coincidence — so
    near-dup pair counts scale linearly, like ten independent crawl
    shards.  (A first attempt suffixed each WORD with ``-r{r}``: char
    5-shingles see straight through that — word stems are shared, so
    every base near-dup pair fans out into up to 10x10 cross-replica
    candidate pairs and the MinHash audit query went from 3 s to
    >600 s.  The cipher closes that generator artifact.)  Text length,
    token counts, and n_chars are all preserved exactly; vocabulary
    grows 10x (realistic for a 10x corpus).

embeddings:
  * vec_id offset; replica r>0 vectors are ``normalize(v + noise)``
    with zero-mean hash-seeded noise of norm ~0.6 (cosine vs the
    source vector ~0.86, below every near-dup threshold in the
    catalog) — neighbor/cluster structure stays realistic without
    manufacturing 10 exact copies of every point.  Labels kept, so
    cluster count is constant and cluster sizes scale 10x.

Everything is seeded (numpy default_rng(42) per replica) — two runs
produce byte-identical logical content.

Usage:  python tools/gen_scale_data.py [--src /root/testdata/sf0.1]
                                       [--out .scaledata/sf1]
                                       [--replicas 10]

Second decade (sf10, 100x sf0.1):
        python tools/gen_scale_data.py --out .scaledata/sf10 --replicas 100
Replicas r >= 26 switch from Caesar rotations (which repeat mod 26 and
would create exact cross-replica duplicate texts) to seeded random
alphabet permutations — see ``_caesar_table``.
"""

from __future__ import annotations

import argparse
import os

import duckdb
import numpy as np
import pandas as pd

REL_OFFSETS = {
    # table -> [(column, key_space)] ; key_space names the table whose
    # max key defines the offset stride, keeping FKs consistent.
    "customer": [("c_custkey", "customer")],
    "supplier": [("s_suppkey", "supplier")],
    "part": [("p_partkey", "part")],
    "orders": [("o_orderkey", "orders"), ("o_custkey", "customer")],
    "lineitem": [
        ("l_orderkey", "orders"),
        ("l_partkey", "part"),
        ("l_suppkey", "supplier"),
    ],
    "events": [("event_id", "events_id"), ("user_id", "events_user")],
}


def _strides(con: duckdb.DuckDBPyConnection, src: str) -> dict[str, int]:
    q = lambda sql: con.sql(sql).fetchone()[0] + 1  # noqa: E731
    return {
        "customer": q(f"select max(c_custkey) from '{src}/customer.parquet'"),
        "supplier": q(f"select max(s_suppkey) from '{src}/supplier.parquet'"),
        "part": q(f"select max(p_partkey) from '{src}/part.parquet'"),
        "orders": q(f"select max(o_orderkey) from '{src}/orders.parquet'"),
        "events_id": q(f"select max(event_id) from '{src}/events.parquet'"),
        "events_user": q(f"select max(user_id) from '{src}/events.parquet'"),
    }


def gen_relational(src: str, out: str, replicas: int) -> None:
    con = duckdb.connect()
    strides = _strides(con, src)
    for tbl in ("region", "nation"):
        con.sql(
            f"copy (select * from '{src}/{tbl}.parquet') to "
            f"'{out}/{tbl}.parquet' (format parquet, compression snappy)"
        )
    for tbl, cols in REL_OFFSETS.items():
        offset_cols = {c: ks for c, ks in cols}
        schema = [r[0] for r in con.sql(
            f"describe select * from '{src}/{tbl}.parquet'").fetchall()]
        sel = ", ".join(
            f"({c} + r.r * {strides[offset_cols[c]]})::BIGINT as {c}"
            if c in offset_cols else c
            for c in schema
        )
        con.sql(
            f"copy (select {sel} from '{src}/{tbl}.parquet', "
            f"(select unnest(range({replicas})) as r) r) to "
            f"'{out}/{tbl}.parquet' (format parquet, compression snappy)"
        )
        n = con.sql(f"select count(*) from '{out}/{tbl}.parquet'").fetchone()[0]
        print(f"  {tbl}: {n} rows")


def _caesar_table(r: int) -> dict[int, int]:
    """Per-replica character bijection on the letters.

    r < 26: the Caesar rotation by r (unchanged since r11, so the sf1
    dataset regenerates byte-identical to the r11 artifacts).

    r >= 26: rotations repeat mod 26, so a 100-replica (sf10) build
    would hand several replicas the IDENTICAL transform — every base
    document would gain exact cross-replica duplicates, manufacturing
    near-dup structure the way the word-suffix generator did.  Those
    replicas instead use a seeded random permutation of the alphabet
    (numpy default_rng(1000 + r)): still a character-level bijection —
    within-replica shingle structure identical to the base corpus —
    while any two replicas' transforms differ (26! >> replicas, and
    the identity/rotation cases are re-drawn)."""
    lo = "abcdefghijklmnopqrstuvwxyz"
    hi = lo.upper()
    if r < 26:
        perm = [(i + r) % 26 for i in range(26)]
    else:
        rng = np.random.default_rng(1000 + r)
        while True:
            perm = list(rng.permutation(26))
            # reject pure rotations (incl. identity): those collide
            # with a Caesar replica's transform
            if any((perm[i] - i) % 26 != (perm[0] - 0) % 26
                   for i in range(26)):
                break
    table = {}
    for alpha in (lo, hi):
        for i, ch in enumerate(alpha):
            table[ord(ch)] = ord(alpha[perm[i]])
    return table


def gen_documents(src: str, out: str, replicas: int) -> None:
    base = pd.read_parquet(f"{src}/documents.parquet")
    stride = int(base["doc_id"].max()) + 1
    frames = [base]
    for r in range(1, replicas):
        rep = base.copy()
        rep["doc_id"] = rep["doc_id"] + r * stride
        table = _caesar_table(r)
        rep["text"] = rep["text"].map(lambda t, tb=table: t.translate(tb))
        # length-preserving bijection: n_chars unchanged by construction
        frames.append(rep)
    allf = pd.concat(frames, ignore_index=True)
    allf.to_parquet(f"{out}/documents.parquet", index=False)
    print(f"  documents: {len(allf)} rows")


def gen_embeddings(src: str, out: str, replicas: int) -> None:
    base = pd.read_parquet(f"{src}/embeddings.parquet")
    stride = int(base["vec_id"].max()) + 1
    mat = np.stack(base["embedding"].to_numpy())  # (n, d) float32
    frames = [base]
    for r in range(1, replicas):
        rng = np.random.default_rng(42 + r)
        noise = rng.standard_normal(mat.shape).astype(np.float32)
        noise *= 0.6 / np.linalg.norm(noise, axis=1, keepdims=True)
        pert = mat + noise
        pert /= np.linalg.norm(pert, axis=1, keepdims=True)
        rep = base.copy()
        rep["vec_id"] = rep["vec_id"] + r * stride
        rep["embedding"] = list(pert)
        frames.append(rep)
    allf = pd.concat(frames, ignore_index=True)
    allf.to_parquet(f"{out}/embeddings.parquet", index=False)
    print(f"  embeddings: {len(allf)} rows")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--out",
        default=os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".scaledata", "sf1",
        ),
    )
    ap.add_argument("--replicas", type=int, default=10)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    print(f"generating {args.replicas}x of {args.src} -> {args.out}")
    gen_relational(args.src, args.out, args.replicas)
    gen_documents(args.src, args.out, args.replicas)
    gen_embeddings(args.src, args.out, args.replicas)
    print("done")


if __name__ == "__main__":
    main()
