"""Seeded raw-input generator for the pipeline workloads.

Writes one landing folder per month (``block/cpu/mem/llite.csv`` in the
FIXTURES.md §1-4 shapes) plus the month's accounting CSV (§6), then
computes the expected step-1 EAV and step-2 set3 results with DuckDB,
independently of the package, straight from the generated CSVs.  The
expected fingerprints go into ``manifest.json``, written last: a folder
with a manifest is complete.

Dirty rows, per FIXTURES.md: unparseable timestamps, null jobIDs, exact
duplicate raw rows, shuffled llite order with equal timestamps and
counter resets, HH:MM:SS / MM:SS / bare / garbage walltimes, Q/S/E rows
per job, ts rows outside [start, end], jobs missing on either side.

Usage:  python3 perfbench/gen_fresco.py --out DIR --seed N --rows R
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np

from fingerprint import fingerprint_sql

METRICS = ("block", "cpu", "mem", "llite")
HEADERS = {
    "block": "jobID,node,timestamp,rd_sectors,wr_sectors,rd_ticks,wr_ticks",
    "cpu": "jobID,node,timestamp,user,nice,system,idle,iowait,irq,softirq",
    "mem": "jobID,node,timestamp,MemTotal,MemFree,FilePages",
    "llite": "jobID,node,timestamp,read_bytes,write_bytes",
}
ACCT_HEADER = (
    "jobID,ctime,qtime,etime,start,end,Resource_List.walltime,"
    "Resource_List.nodect,Resource_List.ncpus,account,queue,jobname,"
    "user,group,exec_host,jobevent,Exit_status"
)
#: samples per (job, node) group; the raw files share one sample clock.
#: Short jobs make many of them, so the seed moves the output size little.
SAMPLES = (20, 60)
CADENCE_S = 600
BAD_TS = ("NOT_A_DATE", "99/99/2015 25:61:00", "2015-03-01T10:00")


def _fmt_pbs(t: np.datetime64) -> str:
    s = str(t.astype("datetime64[s]"))  # YYYY-MM-DDTHH:MM:SS
    return f"{s[5:7]}/{s[8:10]}/{s[0:4]} {s[11:19]}"


def _fmt_iso(t: np.datetime64) -> str:
    return str(t.astype("datetime64[s]")).replace("T", " ")


def _month_folder(rng, year: int, month: int, rows: int, out: str) -> dict:
    """One landing folder of ~``rows`` rows per metric file plus the
    month's accounting CSV.  Returns the raw row counts and bytes."""
    base = np.datetime64(f"{year:04d}-{month:02d}-01T00:00:00")
    # (job, node) groups until the row budget is spent
    groups = []  # (job_index, node, t0, n_samples)
    jobs = []  # (job_id, nodes, t0, n_samples)
    n = 0
    j = 0
    while n < rows:
        n_nodes = int(rng.integers(1, 4))
        k = int(rng.integers(*SAMPLES))
        t0 = base + np.timedelta64(int(rng.integers(0, 26 * 86400)), "s")
        first = int(rng.integers(1, 900))
        nodes = [f"conte-a{first + i:03d}" for i in range(n_nodes)]
        jobs.append((100000 + 3 * j + int(rng.integers(0, 3)), nodes, t0, k))
        for node in nodes:
            groups.append((j, node, t0, k))
            n += k
        j += 1
    # jobID spelling: mostly jobIDNNN, some bare PBS NNN.conte-adm
    pbs_form = rng.random(len(jobs)) < 0.05

    def job_field(ji: int) -> str:
        jid = jobs[ji][0]
        return f"{jid}.conte-adm" if pbs_form[ji] else f"jobID{jid}"

    # one sample clock per (job, node) group, shared by the four files
    sample_rows = []  # (job_idx, node, t)
    for ji, node, t0, k in groups:
        offs = np.arange(k, dtype=np.int64) * CADENCE_S + rng.integers(0, 30, k)
        for o in offs:
            sample_rows.append((ji, node, t0 + np.timedelta64(int(o), "s")))
    m = len(sample_rows)
    stamps = np.array([_fmt_pbs(t) for _, _, t in sample_rows], dtype=object)
    jobcol = np.array([job_field(ji) for ji, _, _ in sample_rows], dtype=object)
    nodecol = np.array([nd for _, nd, _ in sample_rows], dtype=object)

    def dirty(cols: list[np.ndarray], ts: np.ndarray) -> list[str]:
        """Render rows with ~1% bad timestamps, ~0.5% null jobIDs and
        ~1% exact duplicate rows."""
        jc = jobcol.copy()
        tsc = ts.copy()
        bad = rng.random(m) < 0.01
        tsc[bad] = rng.choice(BAD_TS, int(bad.sum()))
        jc[rng.random(m) < 0.005] = ""
        lines = [
            ",".join(parts)
            for parts in zip(jc, nodecol, tsc, *[c.astype(str) for c in cols])
        ]
        dup = rng.choice(m, max(1, m // 100), replace=False)
        return lines + [lines[i] for i in dup]

    files = {}
    # block: ~1% zero-tick rows (÷0 → 0.0)
    rd_t = rng.integers(0, 5000, m)
    wr_t = rng.integers(0, 5000, m)
    zero = rng.random(m) < 0.01
    rd_t[zero] = 0
    wr_t[zero] = 0
    files["block"] = dirty(
        [rng.integers(0, 10**9, m), rng.integers(0, 10**9, m), rd_t, wr_t],
        stamps,
    )
    # cpu: ~0.5% all-zero rows (total=0 → 0.0)
    cpu = [rng.integers(0, 10**7, m) for _ in range(7)]
    zero = rng.random(m) < 0.005
    for c in cpu:
        c[zero] = 0
    files["cpu"] = dirty(cpu, stamps)
    # mem: MemFree > MemTotal and FilePages > used on ~2% each
    total = rng.choice([32, 64, 128], m) * 1024**3
    free = (total * rng.uniform(0.05, 0.95, m)).astype(np.int64)
    over = rng.random(m) < 0.02
    free[over] = total[over] + rng.integers(1, 1024**3, int(over.sum()))
    pages = ((total - free).clip(0) * rng.uniform(0, 0.6, m)).astype(np.int64)
    big = rng.random(m) < 0.02
    pages[big] = total[big]
    files["mem"] = dirty([total, free, pages], stamps)
    # llite: cumulative counters per group, ~1% resets, ~1% samples that
    # repeat the previous timestamp, rows shuffled
    rb = np.empty(m, dtype=np.int64)
    wb = np.empty(m, dtype=np.int64)
    lts = stamps.copy()
    i = 0
    for _, _, _, k in groups:
        r = np.cumsum(rng.integers(0, 5 * 1024**2, k))
        w = np.cumsum(rng.integers(0, 2 * 1024**2, k))
        reset = rng.random(k) < 0.01
        r[reset] = rng.integers(0, 1024, int(reset.sum()))
        rb[i:i + k] = r
        wb[i:i + k] = w
        tie = np.flatnonzero(rng.random(k) < 0.01)
        tie = tie[tie > 0]
        lts[i + tie] = lts[i + tie - 1]
        i += k
    llite = dirty([rb, wb], lts)
    rng.shuffle(llite)
    files["llite"] = llite

    raw_dir = os.path.join(out, "raw", f"{year:04d}-{month:02d}")
    os.makedirs(raw_dir, exist_ok=True)
    raw_rows = raw_bytes = 0
    for name in METRICS:
        text = HEADERS[name] + "\n" + "\n".join(files[name]) + "\n"
        path = os.path.join(raw_dir, f"{name}.csv")
        with open(path, "w", encoding="ascii") as fh:
            fh.write(text)
        raw_rows += len(files[name])
        raw_bytes += len(text)

    # accounting: Q/S/E rows per job; every 20th ts job has no accounting
    # rows and ~5% accounting-only jobs have no ts rows.  Which rows carry
    # an interval follows the job index, so the join multiplicity, and
    # with it the set3 size, is the same share of the input for every seed.
    acct = []
    missing = np.arange(len(jobs)) % 20 == 0
    extra = [
        (9_000_000 + 7 * e, [f"conte-b{e % 900:03d}"],
         base + np.timedelta64(int(rng.integers(0, 26 * 86400)), "s"), 50)
        for e in range(max(1, len(jobs) // 20))
    ]
    walls = ("{h:02d}:{m:02d}:00", "{m:02d}:{s:02d}", "{sec}", "GARBAGE",
             "1:2:3:4", "")
    for ji, (jid, nodes, t0, k) in enumerate(jobs + extra):
        if ji < len(jobs) and missing[ji]:
            continue
        span = k * CADENCE_S
        # interval cuts into the sample window on both ends
        start = t0 + np.timedelta64(int(rng.integers(-1800, 3600)), "s")
        end = t0 + np.timedelta64(span - int(rng.integers(-1800, 3600)), "s")
        fmt = _fmt_iso if rng.random() < 0.1 else _fmt_pbs
        qtime = t0 - np.timedelta64(int(rng.integers(60, 7200)), "s")
        h = int(rng.integers(1, 48))
        wi = int(rng.choice(6, p=[0.55, 0.15, 0.15, 0.05, 0.05, 0.05]))
        wall = walls[wi].format(h=h, m=h % 60, s=int(rng.integers(0, 60)),
                                sec=h * 3600)
        ncpu = str(16 * len(nodes)) if rng.random() < 0.95 else "N/A"
        exec_host = "+".join(f"{nd}/{c}" for nd in nodes for c in range(2))
        who = int(rng.integers(0, 40))
        common = (
            f"{wall},{len(nodes)},{ncpu},acct{who % 7},"
            f"{('normal', 'standby', 'debug')[who % 3]},job{jid % 1000},"
            f"user{who},grp{who % 5},{exec_host}"
        )
        bad_start = ji % 100 == 7
        s_txt = "NOT_A_DATE" if bad_start else fmt(start)
        e_txt = fmt(end)
        q_has_span = ji % 10 < 3
        status = "0" if rng.random() < 0.8 else str(int(rng.choice([1, 137, 271])))
        jf = f"{jid}.conte-adm"
        acct.append(
            f"{jf},{fmt(qtime)},{fmt(qtime)},{fmt(qtime)},"
            f"{s_txt if q_has_span else ''},{e_txt if q_has_span else ''},"
            f"{common},Q,"
        )
        acct.append(f"{jf},{fmt(qtime)},{fmt(qtime)},{fmt(qtime)},{s_txt},"
                    f"{e_txt if ji % 2 == 0 else ''},{common},S,")
        acct.append(f"{jf},{fmt(qtime)},{fmt(qtime)},{fmt(qtime)},{s_txt},"
                    f"{e_txt},{common},E,{status}")
    acct_dir = os.path.join(out, "acct")
    os.makedirs(acct_dir, exist_ok=True)
    text = ACCT_HEADER + "\n" + "\n".join(acct) + "\n"
    with open(os.path.join(acct_dir, f"{year:04d}-{month:02d}.csv"), "w",
              encoding="ascii") as fh:
        fh.write(text)
    return {"raw_rows": raw_rows, "raw_bytes": raw_bytes,
            "acct_rows": len(acct), "acct_bytes": len(text)}


# ---------------------------------------------------------------------------
# Independent expected results (DuckDB over the generated CSVs)
# ---------------------------------------------------------------------------

GIB = "1073741824.0::DOUBLE"
MIB = "1048576.0::DOUBLE"
RAW_COLS = {
    "block": ["rd_sectors", "wr_sectors", "rd_ticks", "wr_ticks"],
    "cpu": ["user", "nice", "system", "idle", "iowait", "irq", "softirq"],
    "mem": ["MemTotal", "MemFree", "FilePages"],
    "llite": ["read_bytes", "write_bytes"],
}


def _raw_view(con, name: str, path: str) -> None:
    """Typed, filtered raw rows in file order: counters TRY_CAST to
    BIGINT, rows with any NULL required column or an unparseable
    timestamp dropped (DROPMALFORMED + dropna + coerce-and-drop)."""
    cols = RAW_COLS[name]
    casts = ", ".join(f"TRY_CAST({c} AS BIGINT) AS {c}" for c in cols)
    keep = " AND ".join(
        ["jobID IS NOT NULL", "node IS NOT NULL", "ts IS NOT NULL"]
        + [f"{c} IS NOT NULL" for c in cols]
    )
    con.execute("SET threads=1")  # row_number() OVER () follows file order
    con.execute(
        f"""CREATE TABLE r_{name} AS
        SELECT * FROM (
          SELECT row_number() OVER () AS rn, jobID, node,
                 try_strptime(timestamp, '%m/%d/%Y %H:%M:%S') AS ts, {casts}
          FROM read_csv('{path}', header=true, all_varchar=true)
        ) WHERE {keep}"""
    )
    con.execute("RESET threads")


EAV_SQL = f"""
CREATE TABLE eav AS
SELECT DISTINCT regexp_replace(jobID, 'jobid', 'JOB', 'gi') AS jobID, node,
       Event, Units, ts, Value
FROM (
  SELECT jobID, node, 'block' AS Event, 'GB/s' AS Units, ts,
    greatest(0.0, (CASE WHEN rd_ticks + wr_ticks <> 0 THEN
      CAST(rd_sectors + wr_sectors AS DOUBLE) * 512.0::DOUBLE
        / CAST(rd_ticks + wr_ticks AS DOUBLE) ELSE 0.0::DOUBLE END) / {GIB})
      AS Value
  FROM r_block
  UNION ALL
  SELECT jobID, node, 'cpuuser', 'CPU %', ts,
    greatest(0.0, (CASE WHEN t <> 0 THEN CAST(un AS DOUBLE) / CAST(t AS DOUBLE)
      ELSE 0.0::DOUBLE END) * 100.0::DOUBLE)
  FROM (SELECT *, user + nice AS un,
          user + nice + system + idle + iowait + irq + softirq AS t FROM r_cpu)
  UNION ALL
  SELECT jobID, node, 'memused', 'GB', ts, greatest(0.0, used / {GIB})
  FROM (SELECT *, greatest(0.0, MemTotal::DOUBLE)
          - greatest(0.0, least(MemFree::DOUBLE, MemTotal::DOUBLE)) AS used
        FROM r_mem)
  UNION ALL
  SELECT jobID, node, 'memused_minus_diskcache', 'GB', ts,
    greatest(0.0, greatest(0.0, used - greatest(0.0, FilePages::DOUBLE)) / {GIB})
  FROM (SELECT *, greatest(0.0, MemTotal::DOUBLE)
          - greatest(0.0, least(MemFree::DOUBLE, MemTotal::DOUBLE)) AS used
        FROM r_mem)
  UNION ALL
  SELECT jobID, node, 'nfs', 'MB/s', ts,
    greatest(0.0, coalesce(dv / CASE WHEN dt IS NULL THEN 0.1
                                     ELSE greatest(0.1, dt) END, 0.0) / {MIB})
  FROM (
    SELECT *, tot - lag(tot) OVER w AS dv,
           epoch_us(ts) / 1000000.0::DOUBLE
             - lag(epoch_us(ts) / 1000000.0::DOUBLE) OVER w AS dt
    FROM (SELECT *, CAST(read_bytes + write_bytes AS DOUBLE) AS tot
          FROM r_llite)
    WINDOW w AS (PARTITION BY jobID, node ORDER BY ts, rn)
  )
)
"""


def _std_extract(c: str) -> str:
    d = f"regexp_extract({c}, '(\\d+)', 1)"
    return f"CASE WHEN {d} <> '' THEN 'JOB' || {d} ELSE {c} END"


def _acct_ts(c: str) -> str:
    return (
        f"coalesce(try_strptime({c}, '%m/%d/%Y %H:%M:%S'),"
        f" try_strptime({c}, '%Y-%m-%d %H:%M:%S'))"
    )


_W = "string_split(wall, ':')"
SET3_SQL = f"""
CREATE TABLE set3 AS
WITH ts AS (
  SELECT {_std_extract("jobID")} AS jid,
         node AS host, Event, Value, Units, ts
  FROM eav
), jobs AS (
  SELECT {_std_extract("jobID")} AS jid, {_acct_ts("start")} AS s,
         {_acct_ts('"end"')} AS e, {_acct_ts("qtime")} AS submit,
         "Resource_List.walltime" AS wall, "Resource_List.nodect" AS nodect,
         "Resource_List.ncpus" AS ncpus, account, queue, jobname, "user",
         exec_host, coalesce(jobevent, '') AS ev,
         coalesce(Exit_status, '') AS st
  FROM acct
)
SELECT ts.ts AS time, submit AS submit_time, s AS start_time, e AS end_time,
  CASE WHEN regexp_full_match(wall, '\\d+(\\.\\d+)?')
         THEN TRY_CAST(wall AS DOUBLE)
       WHEN len({_W}) = 3 THEN TRY_CAST({_W}[1] AS DOUBLE) * 3600.0
         + TRY_CAST({_W}[2] AS DOUBLE) * 60.0 + TRY_CAST({_W}[3] AS DOUBLE)
       WHEN len({_W}) = 2 THEN TRY_CAST({_W}[1] AS DOUBLE) * 60.0
         + TRY_CAST({_W}[2] AS DOUBLE)
  END AS timelimit,
  TRY_CAST(nodect AS DOUBLE) AS nhosts, TRY_CAST(ncpus AS DOUBLE) AS ncores,
  account, queue, ts.host, ts.jid, Units AS unit, jobname,
  CASE WHEN ev = 'E' AND st = '0' THEN 'COMPLETED'
       WHEN ev = 'E' THEN 'FAILED:' || st
       WHEN ev = 'A' THEN 'ABORTED' WHEN ev = 'S' THEN 'STARTED'
       WHEN ev = 'Q' THEN 'QUEUED' ELSE ev || ':' || st END AS exitcode,
  '{{' || array_to_string(list_sort(list_distinct(
      regexp_extract_all(exec_host, '([^/+]+)/', 1))), ',') || '}}'
    AS host_list,
  "user" AS username,
  CASE WHEN Event = 'cpuuser' THEN Value END AS value_cpuuser,
  CASE WHEN Event = 'gpu_usage' THEN Value END AS value_gpu_usage,
  CASE WHEN Event = 'memused' THEN Value END AS value_memused,
  CASE WHEN Event = 'memused_minus_diskcache' THEN Value END
    AS value_memused_minus_diskcache,
  CASE WHEN Event = 'nfs' THEN Value END AS value_nfs,
  CASE WHEN Event = 'block' THEN Value END AS value_block
FROM ts JOIN jobs ON ts.jid = jobs.jid AND ts.ts >= jobs.s AND ts.ts <= jobs.e
"""


def build_expected(con, out: str, ym: str) -> None:
    """Create the expected tables ``eav_named`` (step-1 output columns)
    and ``set3`` for month ``ym`` on DuckDB connection ``con``."""
    raw = os.path.join(out, "raw", ym)
    for name in METRICS:
        _raw_view(con, name, os.path.join(raw, f"{name}.csv"))
    con.execute(EAV_SQL)
    con.execute(
        "CREATE TABLE acct AS SELECT * FROM read_csv("
        f"'{os.path.join(out, 'acct', ym + '.csv')}', header=true,"
        " all_varchar=true)"
    )
    con.execute(SET3_SQL)
    con.execute(
        'CREATE VIEW eav_named AS SELECT jobID AS "Job Id", node AS "Host",'
        ' Event AS "Event", Value AS "Value", Units AS "Units",'
        ' ts AS "Timestamp" FROM eav'
    )


def expected(out: str, months: list[str]) -> dict:
    """Expected EAV and set3 fingerprints per month, from DuckDB."""
    import duckdb

    res = {}
    for ym in months:
        con = duckdb.connect()
        build_expected(con, out, ym)
        res[ym] = {
            "eav": fingerprint_sql(con, "eav_named"),
            "set3": fingerprint_sql(con, "set3"),
        }
        con.close()
    return res


def generate(out: str, seed: int, rows: int) -> dict:
    """One month (chosen by the seed) of ~``rows`` rows per metric file."""
    year, month = 2014, seed % 12 + 1
    sizes = _month_folder(np.random.default_rng(seed), year, month, rows, out)
    yms = [f"{year:04d}-{month:02d}"]
    manifest = {
        "seed": seed, "rows": rows, "months": yms, "inputs": sizes,
        "expected": expected(out, yms),
    }
    tmp = os.path.join(out, "manifest.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    os.replace(tmp, os.path.join(out, "manifest.json"))
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    a = ap.parse_args()
    generate(a.out, a.seed, a.rows)


if __name__ == "__main__":
    main()
