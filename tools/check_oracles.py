"""Local replica of the driver's correctness gate: run each queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count,
column names, and order-insensitive values.

Usage: python tools/check_oracles.py [--strict] [--prefix-only]
                                     [sf_dir] [query ...]

--prefix-only restricts the run to the _DRIVER_PREFIX entries — the
rows the driver will actually verify next round (the chaos-knob
validation step in tools/round_gate.sh).

--strict compares doubles BIT-EXACTLY (no 6-dp tolerance) and reports
any value sitting exactly on a 6-dp half boundary (where HALF_UP and
HALF_EVEN rounding conventions diverge) — the driver-grade gate: a
query green here can only hash-fail on the driver through an
engine-VERSION behavior difference, never through float slack the 6-dp
mode would hide.  Run it on every entry whose oracle or op changed
before rotating it into the driver prefix (the r10 workflow).
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

from carbonapi_spark.entry_queries import _DRIVER_PREFIX, ORACLES, QUERIES
from carbonapi_spark.sources.testdata import TABLES

STRICT = "--strict" in sys.argv
PREFIX_ONLY = "--prefix-only" in sys.argv


def boundary_values(rows) -> list:
    """Doubles exactly on a 6-dp half boundary (v * 2e6 an odd int)."""
    hits = []
    for r in rows:
        for v in r:
            if isinstance(v, float) and math.isfinite(v):
                y = v * 2e6
                if y == int(y) and int(y) % 2 == 1:
                    hits.append(v)
    return hits[:3]


def normalize(rows, strict=STRICT):
    """rows: tuples already in sorted-column order.  Doubles are
    compared at 6 dp, or bit-exactly when ``strict``."""
    out = []
    for r in rows:
        vals = []
        for v in r:
            if isinstance(v, float):
                if strict:
                    v = None if math.isnan(v) else v
                else:
                    v = None if math.isnan(v) else round(v, 6)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def main():
    args = [a for a in sys.argv[1:]
            if a not in ("--strict", "--prefix-only")]
    sf_dir = args[0] if args and os.path.isdir(args[0]) \
        else "/root/testdata/sf0.01"
    only = set(a for a in args if not os.path.isdir(a))
    if PREFIX_ONLY:
        only |= set(_DRIVER_PREFIX)

    # Chaos knobs (CHECK_MASTER / CHECK_SHUFFLE / CHECK_SPLIT_MB /
    # CHECK_ARROW_BATCH): replay the catalog under a deliberately
    # different parallelism / input-split / Arrow-chunking regime than
    # the driver's to flush out partition-order- or chunking-sensitive
    # seams BEFORE the driver finds them (the round-7 lesson:
    # bpe_merges/quality_auc were green under every local config tried
    # and still hash-failed on the driver box).
    builder = (SparkSession.builder
               .master(os.environ.get("CHECK_MASTER", "local[8]"))
               .config("spark.sql.shuffle.partitions",
                       os.environ.get("CHECK_SHUFFLE", "8"))
               .config("spark.sql.session.timeZone", "UTC")
               .config("spark.ui.enabled", "false"))
    if "CHECK_SPLIT_MB" in os.environ:
        builder = builder.config(
            "spark.sql.files.maxPartitionBytes",
            str(int(os.environ["CHECK_SPLIT_MB"]) << 20))
    if "CHECK_ARROW_BATCH" in os.environ:
        builder = builder.config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ["CHECK_ARROW_BATCH"])
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        finally:
            # request boundary, like bench.py / the HTTP handler
            from carbonapi_spark import scratch
            scratch.release()
        if name not in ORACLES:
            print(f"ok   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            cur = con.execute(ORACLES[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        if sorted(scols) != sorted(ocols):
            print(f"FAIL {name}: columns {scols} vs {ocols}")
            failures += 1
            continue
        s_idx = [scols.index(c) for c in sorted(scols)]
        o_idx = [ocols.index(c) for c in sorted(ocols)]
        sn = normalize([tuple(r[i] for i in s_idx) for r in srows])
        on = normalize([tuple(r[i] for i in o_idx) for r in orows])
        if len(sn) != len(on):
            print(f"FAIL {name}: rowcount {len(sn)} vs {len(on)}")
            failures += 1
            continue
        bad = [(a, b) for a, b in zip(sn, on) if a != b]
        if bad:
            print(f"FAIL {name}: {len(bad)} mismatched rows; first: {bad[0]}")
            failures += 1
            continue
        note = ""
        if STRICT:
            bv = boundary_values(sn)
            if bv:
                note = f"  [WARN: 6-dp half-boundary values {bv} — " \
                       f"rounding-convention-sensitive if ever rounded]"
        print(f"ok   {name}: {len(sn)} rows match"
              + (" (bit-exact)" if STRICT else "") + note)

    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
