"""Batch pipeline driver test: run_step1 landing-folder ingest and
run_step2 month loop (discovery → join → idempotent partitioned write),
including idempotent re-run semantics."""

from __future__ import annotations

import glob
import os
from collections import Counter

from pyspark.sql import functions as F

from conte_to_fresco_etl_spark.operators.transforms import transform_folder
from conte_to_fresco_etl_spark.pipeline import RAW_SCHEMAS, run_step1, run_step2
from conte_to_fresco_etl_spark.sources.readers import read_raw_csv
from conte_to_fresco_etl_spark.sources.sinks import write_monthly_eav

ACCT_HEADER = (
    "jobID,qtime,start,end,Resource_List.walltime,"
    "Resource_List.nodect,Resource_List.ncpus,account,queue,"
    "jobname,user,group,exec_host,jobevent,Exit_status\n"
)


def _sql_executions(spark, action) -> list[list[str]]:
    """Plan-node names of every SQL execution ``action`` runs, read from
    the SQL status store (the record perfbench/run.py:fresco_layers
    reads)."""
    store = spark._jsparkSession.sharedState().statusStore()

    def seq(s):
        return [s.apply(i) for i in range(s.size())]

    before = {e.executionId() for e in seq(store.executionsList())}
    action()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return [
        [n.name() for n in seq(store.planGraph(e.executionId()).allNodes())]
        for e in seq(store.executionsList())
        if e.executionId() not in before
    ]


def _qse_month(tmp_path):
    """A landing folder and accounting dir for March 2015: job 7 on h1
    with Q, S and E accounting rows over [03-01 00:00, 03-02 23:59:59],
    ts rows on two days, and one cpu row on 03-03, outside the interval.
    In-interval EAV: 2 cpu + 1 mem row × 2 events = 4, each joined to 3
    accounting rows → 12 set3 rows, 9 on 03-01 and 3 on 03-02."""
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "cpu.csv").write_text(
        "jobID,node,timestamp,user,nice,system,idle,iowait,irq,softirq\n"
        "jobID7,h1,03/01/2015 10:00:00,50,0,0,50,0,0,0\n"
        "jobID7,h1,03/02/2015 10:00:00,25,0,0,75,0,0,0\n"
        "jobID7,h1,03/03/2015 10:00:00,10,0,0,90,0,0,0\n"
    )
    (raw / "mem.csv").write_text(
        "jobID,node,timestamp,MemTotal,MemFree,FilePages\n"
        "jobID7,h1,03/01/2015 11:00:00,34359738368,17179869184,1073741824\n"
    )
    acct = tmp_path / "acct"
    acct.mkdir()
    bounds = "03/01/2015 00:00:00,03/01/2015 00:00:00,03/02/2015 23:59:59"
    (acct / "2015-03.csv").write_text(
        ACCT_HEADER
        + "".join(
            f"7.adm,{bounds},10:00:00,1,8,a,q,j,u,g,h1/0,{ev},{code}\n"
            for ev, code in (("Q", ""), ("S", ""), ("E", "0"))
        )
    )
    return str(raw), str(acct)


def test_session_sets_file_record_cap(spark):
    """The per-file record cap must be set under the key Spark reads;
    Spark ignores ``spark.sql.maxRecordsPerFile``."""
    assert spark.conf.get("spark.sql.files.maxRecordsPerFile") == "1000000"


def test_pipeline_end_to_end(spark, tmp_path):
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "cpu.csv").write_text(
        "jobID,node,timestamp,user,nice,system,idle,iowait,irq,softirq\n"
        "jobID7,h1,03/01/2015 10:00:00,50,0,0,50,0,0,0\n"
        "jobID7,h1,03/02/2015 10:00:00,25,0,0,75,0,0,0\n"
    )
    monthly = str(tmp_path / "monthly")
    run_step1(spark, str(raw), monthly)
    assert glob.glob(f"{monthly}/ym=2015_03/*.parquet")

    acct_dir = str(tmp_path / "acct")
    os.makedirs(acct_dir)
    with open(f"{acct_dir}/2015-03.csv", "w") as f:
        f.write(
            ACCT_HEADER
            + "7.adm,03/01/2015 00:00:00,03/01/2015 00:00:00,"
            "03/02/2015 23:59:59,10:00:00,1,8,a,q,j,u,g,h1/0,E,0\n"
        )

    # step 2 reads step 1's ym=YYYY_MM/ layout as it lands
    out_pq = str(tmp_path / "set3")
    out_csv = str(tmp_path / "daily")
    results = run_step2(spark, monthly, acct_dir, out_pq, out_csv)
    assert [(r.year, r.month, r.rows) for r in results] == [("2015", "03", 2)]
    days = sorted(os.path.basename(d) for d in glob.glob(f"{out_csv}/d=*"))
    assert days == ["d=2015-03-01", "d=2015-03-02"]

    # idempotent re-run: same outputs, no duplicate accumulation
    results2 = run_step2(spark, monthly, acct_dir, out_pq, out_csv)
    assert results2[0].rows == 2
    assert spark.read.parquet(f"{out_pq}/ym=2015_03").count() == 2


def test_daily_csv_matches_set3_parquet(spark, tmp_path):
    """The daily CSVs hold the set3 parquet's rows value for value, one
    file per day, on a month with two days, an out-of-interval ts row and
    a Q/S/E job; ``MonthResult.rows`` is the parquet's row count; a
    re-run leaves the same outputs."""
    raw, acct_dir = _qse_month(tmp_path)
    monthly = str(tmp_path / "monthly")
    run_step1(spark, raw, monthly)
    out_pq = str(tmp_path / "set3")
    out_csv = str(tmp_path / "daily")

    for _ in range(2):  # second round: idempotent re-run
        results = run_step2(spark, monthly, acct_dir, out_pq, out_csv)
        set3 = spark.read.parquet(f"{out_pq}/ym=2015_03")
        n_rows = set3.count()
        assert n_rows == 12
        assert [(r.year, r.month, r.rows) for r in results] == [
            ("2015", "03", n_rows)
        ]
        days = sorted(glob.glob(f"{out_csv}/d=*"))
        assert [os.path.basename(d) for d in days] == [
            "d=2015-03-01", "d=2015-03-02"
        ]
        for d in days:
            assert len(glob.glob(f"{d}/*.csv")) == 1, d
        daily = spark.read.schema(set3.schema).option("header", "true").csv(
            out_csv
        )
        assert daily.filter(
            F.col("d").cast("string") != F.date_format("time", "yyyy-MM-dd")
        ).count() == 0
        got = Counter(tuple(r) for r in daily.drop("d").collect())
        want = Counter(tuple(r) for r in set3.collect())
        assert got == want


def test_run_step2_evaluates_join_once(spark, tmp_path):
    """Both sinks of a month cost one join: exactly one SQL execution
    of a run_step2 month contains the BroadcastHashJoin."""
    raw, acct_dir = _qse_month(tmp_path)
    monthly = str(tmp_path / "monthly")
    run_step1(spark, raw, monthly)
    execs = _sql_executions(
        spark,
        lambda: run_step2(
            spark, monthly, acct_dir, str(tmp_path / "set3"),
            str(tmp_path / "daily"),
        ),
    )
    assert sum("BroadcastHashJoin" in names for names in execs) == 1


def test_monthly_eav_dedup_shares_the_month_shuffle(spark, tmp_path):
    """Without the W1 window, the step-1 write plan shuffles once: the
    ``ym`` hash partitioning also clusters the full-row dedup."""
    raw, _ = _qse_month(tmp_path)
    frames = {
        name: read_raw_csv(spark, f"{raw}/{name}.csv", RAW_SCHEMAS[name])
        for name in ("cpu", "mem")
    }
    out = str(tmp_path / "monthly")
    execs = _sql_executions(
        spark, lambda: write_monthly_eav(transform_folder(frames), out)
    )
    assert [names.count("Exchange") for names in execs] == [1]
    assert spark.read.parquet(out).count() == 5


def test_write_packed_shards_roundtrip(spark, tmp_path):
    from pyspark.sql import functions as F

    from conte_to_fresco_etl_spark.operators.text_analysis import (
        pack_sequences,
    )
    from conte_to_fresco_etl_spark.sources.sinks import write_packed_shards

    docs = spark.createDataFrame(
        [(i, "w " * (i % 11 + 1), f"src{i % 3}") for i in range(60)],
        "doc_id long, text string, source string",
    )
    packed = pack_sequences(docs, budget=16, n_shards=4)
    path = str(tmp_path / "shards")
    write_packed_shards(packed, docs, path)

    back = spark.read.parquet(path)
    assert back.count() == 60
    assert back.select("shard").distinct().count() == 4
    # every multi-doc sequence respects the budget after the round-trip
    fills = back.groupBy("shard", "seq_id").agg(
        F.sum("n_tokens").alias("fill"), F.count("*").alias("n")
    )
    assert fills.filter((F.col("fill") > 16) & (F.col("n") > 1)).count() == 0
    # shard dirs exist on disk
    import os
    assert sorted(
        d for d in os.listdir(path) if d.startswith("shard=")
    ) == ["shard=0", "shard=1", "shard=2", "shard=3"]


def test_compact_partition_reduces_files_keeps_rows(spark, tmp_path):
    from conte_to_fresco_etl_spark.sources.sinks import compact_partition

    out = str(tmp_path / "frag")
    # fragment: 8 single-row files in one partition dir
    spark.range(8).withColumn("d", F.lit("2015-03-01")).repartition(
        8
    ).write.partitionBy("d").parquet(out)
    part = "d=2015-03-01"
    import glob

    before = glob.glob(f"{out}/{part}/*.parquet")
    assert len(before) > 1  # fragmented (empty task partitions write none)
    n_files = compact_partition(spark, out, part, target_records_per_file=100)
    after = glob.glob(f"{out}/{part}/*.parquet")
    assert n_files == 1 and len(after) == 1
    assert sorted(
        r["id"] for r in spark.read.parquet(f"{out}/{part}").collect()
    ) == list(range(8))


def test_partitioned_read_prunes_partitions(spark, tmp_path):
    """Partition pruning: a filter on the partition column must reach
    the scan as a PartitionFilter — the reader lists ONE directory, not
    the dataset (the property that makes ym=/d= layouts work at 100 TB).
    """
    out = str(tmp_path / "parts")
    df = spark.range(100).withColumn(
        "ym", F.concat(F.lit("2015_0"), (F.col("id") % 3 + 1).cast("string"))
    )
    df.write.partitionBy("ym").parquet(out)
    q = spark.read.parquet(out).filter(F.col("ym") == "2015_02")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "ym" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0]
    assert q.count() == 33


def test_write_sorted_export_disjoint_ordered_files(spark, tmp_path):
    import pyarrow.parquet as pq

    from conte_to_fresco_etl_spark.sources.sinks import write_sorted_export

    out = str(tmp_path / "sorted")
    df = spark.range(10_000).withColumn(
        "k", (F.col("id") * 2654435761 % 10_000).cast("long")
    )
    write_sorted_export(df, out, ["k"], n_files=4)
    ranges = []
    for f in sorted(glob.glob(f"{out}/*.parquet")):
        md = pq.read_metadata(f)
        col = md.schema.names.index("k")
        mins = [md.row_group(i).column(col).statistics.min for i in range(md.num_row_groups)]
        maxs = [md.row_group(i).column(col).statistics.max for i in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) == 4
    # files hold disjoint, ordered key ranges -> min/max stats prune reads
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2
    assert spark.read.parquet(out).count() == 10_000


def test_zorder_key_matches_python_interleave(spark):
    from conte_to_fresco_etl_spark.sources.sinks import zorder_key

    def py_z(a, b, bits):
        z = 0
        for i in range(bits):
            z |= ((a >> i) & 1) << (2 * i)
            z |= ((b >> i) & 1) << (2 * i + 1)
        return z

    rows = [(i, (i * 7) % 33, (i * 13) % 21) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    import pyspark.sql.functions as F

    got = {
        r["id"]: r["z"]
        for r in df.select(
            "id", zorder_key(F.col("a"), F.col("b"), bits=8).alias("z")
        ).collect()
    }
    for i, a, b in rows:
        assert got[i] == py_z(a, b, 8), (i, a, b)


def test_write_zordered_export_disjoint_z_ranges(spark, tmp_path):
    """Each output file must cover a disjoint z-range so parquet
    min/max stats prune files for box predicates on either column."""
    import pyarrow.parquet as pq

    from conte_to_fresco_etl_spark.sources.sinks import (
        write_zordered_export,
        zorder_key,
    )
    import pyspark.sql.functions as F
    import os

    rows = [(i, i % 50, (i * 17) % 40) for i in range(5000)]
    df = spark.createDataFrame(rows, "id long, a long, b long")
    out = str(tmp_path / "zordered")
    write_zordered_export(df, out, "a", "b", bits=8, n_files=4)

    back = spark.read.parquet(out)
    assert back.count() == 5000
    # recompute z per file from the data and check disjoint ranges
    ranges = []
    for f in sorted(os.listdir(out)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(os.path.join(out, f)).to_pydict()
        zs = [
            int(
                sum(
                    (((a >> i) & 1) << (2 * i)) | (((b >> i) & 1) << (2 * i + 1))
                    for i in range(8)
                )
            )
            for a, b in zip(t["a"], t["b"])
        ]
        if zs:
            ranges.append((min(zs), max(zs)))
    ranges.sort()
    assert len(ranges) >= 2
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping z ranges: ({lo1},{hi1}) ({lo2},{hi2})"
