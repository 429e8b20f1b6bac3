"""Parquet-backed lake: pushdown + partition-pruning behavior (the 100 TB
path, exercised at toy scale)."""

import re

import pytest
from pyspark.sql import functions as F

from carbonapi_spark.sources.lake import SeriesLake


@pytest.fixture(scope="module")
def parquet_lake(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lake") / "series")
    rows = []
    for d in range(3):  # 3 day-partitions
        for h in range(24):
            ts = d * 86400 + h * 3600
            rows.append(("web.h1.cpu", ts, float(h)))
            rows.append(("web.h2.cpu", ts, float(h * 2)))
            rows.append(("db.h1.io", ts, 1.0))
    df = spark.createDataFrame(rows, "name STRING, ts BIGINT, value DOUBLE") \
        .withColumn("day", F.col("ts") - F.col("ts") % 86400)
    df.write.mode("overwrite").partitionBy("day").parquet(path)
    return SeriesLake(spark.read.parquet(path), 3600, time_partition_col="day")


def _scan_filters(frame) -> tuple[str, str]:
    """(PushedFilters, PartitionFilters) of the frame's Parquet scan."""
    plan = frame.df._jdf.queryExecution().executedPlan().toString()
    # the plan string cuts a long filter list short with "..."
    return (re.search(r"PushedFilters: \[(.*?)(?:\], |\.\.\.)", plan).group(1),
            re.search(r"PartitionFilters: \[(.*?)\], ", plan).group(1))


def test_fetch_prunes_and_pushes(spark, parquet_lake):
    frame = parquet_lake.fetch(spark, "web.*.cpu", 86400, 2 * 86400)
    plan = frame.df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "StringStartsWith(name,web.)" in plan
    # the day bounds of the request window prune the partitions
    _pushed, parts = _scan_filters(frame)
    assert re.search(r"\(day#\d+ >= 86400\)", parts), parts
    assert re.search(r"\(day#\d+ <= 172799\)", parts), parts
    rows = frame.df.collect()
    assert len(rows) == 2 * 24
    assert all(86400 <= r["ts"] < 2 * 86400 for r in rows)


def test_brace_pattern_pushes_in_filter(spark, parquet_lake):
    """A brace-only alternation becomes a pushed-down In filter (reaching
    the Parquet row-group stats), not a post-scan rlike."""
    frame = parquet_lake.fetch(spark, "{web.h1.cpu,db.h1.io}", 0, 86400)
    plan = frame.df._jdf.queryExecution().executedPlan().toString()
    assert "In(name" in plan
    assert "RLike" not in plan and "rlike" not in plan
    names = {r["name"] for r in frame.df.select("name").distinct().collect()}
    assert names == {"web.h1.cpu", "db.h1.io"}
    # mixed brace+star still matches (regex path)
    star = parquet_lake.fetch(spark, "{web,db}.h1.*", 0, 86400)
    got = {r["name"] for r in star.df.select("name").distinct().collect()}
    assert got == {"web.h1.cpu", "db.h1.io"}


def test_series_by_tag_name_term_pushes_prefix(spark, tmp_path_factory):
    """seriesByTag('name=<literal>') scans with plain string ops and a
    StringStartsWith pushed filter — no per-row tag-map build in the scan
    predicate for the dominant name= term."""
    path = str(tmp_path_factory.mktemp("lake") / "tagged")
    rows = [("cpu.load;host=a", t * 60, float(t)) for t in range(4)]
    rows += [("cpu.load;host=b", t * 60, float(t * 2)) for t in range(4)]
    rows += [("mem.used;host=a", t * 60, 1.0) for t in range(4)]
    spark.createDataFrame(rows, "name STRING, ts BIGINT, value DOUBLE") \
        .write.mode("overwrite").parquet(path)
    lake = SeriesLake(spark.read.parquet(path), 60)
    frame = lake.fetch(spark, "seriesByTag('name=cpu.load', 'host=a')",
                       0, 240)
    plan = frame.df._jdf.queryExecution().executedPlan().toString()
    assert "StringStartsWith(name,cpu.load)" in plan
    got = {r["name"] for r in frame.df.select("name").distinct().collect()}
    assert got == {"cpu.load;host=a"}


def test_exact_and_brace_fetches_push_name_filters(spark, parquet_lake):
    """An exact name reaches the Parquet reader as EqualTo and a brace
    list as In, next to the ts bounds and the day partition filter."""
    exact = parquet_lake.fetch(spark, "web.h1.cpu", 0, 86400)
    pushed, parts = _scan_filters(exact)
    assert "EqualTo(name,web.h1.cpu)" in pushed, pushed
    assert "GreaterThanOrEqual(ts,0)" in pushed, pushed
    assert re.search(r"\(day#\d+ <= 86399\)", parts), parts
    brace = parquet_lake.fetch(spark, "{web.h1.cpu,db.h1.io}", 0, 86400)
    pushed, parts = _scan_filters(brace)
    assert re.search(r"In\(name, \[[^\]]*db\.h1\.io", pushed), pushed
    assert re.search(r"\(day#\d+ >= 0\)", parts), parts


def test_fetch_densify_from_parquet(spark, parquet_lake):
    frame = parquet_lake.fetch(spark, "web.h1.cpu", 0, 86400)
    assert frame.df.count() == 24


def test_multi_resolution_lake(spark, tmp_path_factory):
    """Per-series steps rescale to the LCM at fetch (ScaleToCommonStep,
    align.go:76-189): avg-consolidated buckets, NULL-only buckets stay NULL."""
    path = str(tmp_path_factory.mktemp("lake") / "mixed")
    rows = []
    for i in range(12):  # fine.cpu at 60s: value == minute index
        rows.append(("fine.cpu", i * 60, float(i), 60))
    for i in range(4):  # coarse.cpu at 180s
        rows.append(("coarse.cpu", i * 180, 10.0 * i, 180))
    df = spark.createDataFrame(rows, "name STRING, ts BIGINT, value DOUBLE, step INT")
    df.write.mode("overwrite").parquet(path)
    lake = SeriesLake(spark.read.parquet(path))
    frame = lake.fetch(spark, "*.cpu", 0, 720)
    assert frame.step == 180
    got = {(r["name"], r["ts"]): r["value"] for r in frame.df.collect()}
    # fine series: avg of 3 raw points per 180s bucket
    assert got[("fine.cpu", 0)] == pytest.approx(1.0)   # avg(0,1,2)
    assert got[("fine.cpu", 180)] == pytest.approx(4.0)
    assert got[("fine.cpu", 540)] == pytest.approx(10.0)
    # coarse series passes through unchanged
    assert got[("coarse.cpu", 360)] == pytest.approx(20.0)
    # uniform-step pattern keeps its native resolution
    fine_only = lake.fetch(spark, "fine.cpu", 0, 720)
    assert fine_only.step == 60
    assert fine_only.df.count() == 12


def test_multi_resolution_tagged_common_step(spark):
    """The LCM step of a seriesByTag fetch covers only the series its tag
    terms select (resolved per distinct name)."""
    rows = [("a;k=1", i * 60, 1.0, 60) for i in range(6)]
    rows += [("b;k=1", i * 180, 2.0, 180) for i in range(2)]
    rows += [("c;k=2", i * 120, 3.0, 120) for i in range(3)]
    lake = SeriesLake(spark.createDataFrame(
        rows, "name STRING, ts BIGINT, value DOUBLE, step INT"))
    frame = lake.fetch(spark, "seriesByTag('k=1')", 0, 360)
    assert frame.step == 180
    assert sorted({r["name"] for r in frame.df.collect()}) == ["a;k=1", "b;k=1"]


def test_jsonl_ingest_with_corrupt_capture(spark, tmp_path):
    """JSONL ingest: clean rows get content-stable ids, corrupt lines are
    quarantined (not silently dropped), and re-ingestion reproduces ids."""
    from carbonapi_spark.sources.corpus import read_jsonl_docs, split_corrupt
    p = tmp_path / "dump"
    p.mkdir()
    lines = ['{"text": "hello world", "lang": "en", "source": "a"}',
             '{"text": "zweiter text", "lang": "de", "source": "a"}',
             'this is not json at all',
             '{"text": "hello world", "lang": "en", "source": "b"}']
    (p / "part0.jsonl").write_text("\n".join(lines))
    df = read_jsonl_docs(spark, str(p))
    clean, bad = split_corrupt(df)
    assert bad.count() == 1
    rows = clean.collect()
    assert len(rows) == 3 and all(r["doc_id"] is not None for r in rows)
    ids = {(r["text"], r["doc_id"]) for r in rows}
    # same text -> same id (they ARE the same document to dedup ops)
    hello = {i for t, i in ids if t == "hello world"}
    assert len(hello) == 1
    # stability across re-ingestion
    again = {(r["text"], r["doc_id"])
             for r in split_corrupt(read_jsonl_docs(spark, str(p)))[0]
             .collect()}
    assert again == ids


def test_csv_and_textdir_ingest(spark, tmp_path):
    from carbonapi_spark.sources.corpus import (
        read_csv_docs, read_text_dir_docs, split_corrupt)
    c = tmp_path / "csv"
    c.mkdir()
    (c / "d.csv").write_text('text,lang,source\n"doc one",en,x\n"doc two",de,y\n')
    clean, bad = split_corrupt(read_csv_docs(spark, str(c)))
    assert clean.count() == 2 and bad.count() == 0
    t = tmp_path / "txt"
    t.mkdir()
    (t / "a.txt").write_text("same text")
    (t / "b.txt").write_text("same text")
    rows = read_text_dir_docs(spark, str(t)).collect()
    # identical text, different files -> DISTINCT ids (path-salted)
    assert len({r["doc_id"] for r in rows}) == 2


def test_compact_lake_reduces_files(spark, tmp_path):
    from carbonapi_spark.sources.corpus import compact_lake
    src = str(tmp_path / "frag")
    spark.range(10000).selectExpr("id", "id % 3 as day") \
        .repartition(64).write.parquet(src)
    import glob
    n_in = len(glob.glob(f"{src}/*.parquet"))
    assert n_in >= 32
    dst = str(tmp_path / "compact")
    n_out = compact_lake(spark, src, dst, target_bytes=128 << 20)
    assert n_out < n_in
    a = spark.read.parquet(src).orderBy("id").collect()
    b = spark.read.parquet(dst).orderBy("id").collect()
    assert a == b
    # partitioned variant keeps the directory layout
    dst2 = str(tmp_path / "compact2")
    n2 = compact_lake(spark, src, dst2, partition_cols=("day",))
    assert n2 >= 3
    assert spark.read.parquet(dst2).count() == 10000


def test_rollup_methods_and_tier_selection(spark, tmp_path):
    """write_rollups applies the first-matching storage-aggregation
    method per name; TieredLake picks archives exactly at the retention
    boundary and serves old ranges from the coarse tier."""
    from pyspark.sql import functions as F

    from carbonapi_spark.sources.lake import (
        SeriesLake, TieredLake, write_rollups)
    rows = []
    for h in range(48):  # two days, hourly
        rows.append(("app.req.count", h * 3600, float(h)))
        rows.append(("app.cpu.max", h * 3600, float(h % 24)))
        rows.append(("app.temp", h * 3600, 10.0))
    raw = spark.createDataFrame(rows, "name string, ts long, value double")
    path = str(tmp_path / "tiers")
    write_rollups(raw, path, steps=[86400],
                  methods=[("*.*.count", "sum"), ("*.*.max", "max")],
                  default_method="average")
    daily = {(r["name"], r["ts"]): r["value"] for r in
             spark.read.parquet(f"{path}/step=86400")
             .select("name", "ts", "value").collect()}
    assert daily[("app.req.count", 0)] == sum(range(24))        # sum
    assert daily[("app.cpu.max", 0)] == 23.0                    # max
    assert daily[("app.temp", 86400)] == 10.0                   # average
    now = 2 * 86400
    tiered = TieredLake(
        [(3600, 86400, SeriesLake(raw, 3600)),
         (86400, 10 * 86400,
          SeriesLake(spark.read.parquet(f"{path}/step=86400"), 86400,
                     time_partition_col="day"))],
        now=now)
    # exactly at the fine retention edge -> fine tier; older -> coarse
    assert tiered.select_tier(now - 86400) == 0
    assert tiered.select_tier(now - 86400 - 1) == 1
    coarse = tiered.fetch(spark, "app.req.count", 0, now)
    assert coarse.step == 86400
    got = {r["ts"]: r["value"] for r in coarse.df.collect()}
    assert got == {0: float(sum(range(24))),
                   86400: float(sum(range(24, 48)))}
    fine = tiered.fetch(spark, "app.req.count", now - 3600, now)
    assert fine.step == 3600 and fine.df.count() == 1


def test_orc_ingest_round_trip(spark, tmp_path):
    """ORC corpus source: write a documents frame as ORC, read it back
    through read_orc_docs — values identical, missing doc_ids
    synthesized deterministically, pushdown intact."""
    from carbonapi_spark.sources.corpus import read_orc_docs
    import pyspark.sql.functions as F
    src = spark.createDataFrame(
        [(1, "alpha beta", "web"), (None, "gamma delta", "books"),
         (3, "epsilon", "web")],
        "doc_id LONG, text STRING, source STRING")
    p = str(tmp_path / "docs_orc")
    src.write.mode("overwrite").orc(p)
    back = read_orc_docs(spark, p)
    rows = {r["text"]: r for r in back.collect()}
    assert rows["alpha beta"]["doc_id"] == 1          # preserved
    assert rows["epsilon"]["doc_id"] == 3
    assert rows["gamma delta"]["doc_id"] is not None  # synthesized
    # same text -> same synthesized id (deterministic)
    again = {r["text"]: r for r in read_orc_docs(spark, p).collect()}
    assert again["gamma delta"]["doc_id"] == rows["gamma delta"]["doc_id"]
    # predicate pushdown reaches the ORC scan
    plan = (back.where(F.col("source") == "web")
            ._jdf.queryExecution().executedPlan().toString())
    assert "PushedFilters" in plan and "source" in plan, plan[:600]


def test_expire_tier_drops_aged_partitions(spark, tmp_path):
    """expire_tier: fully-aged day partitions are deleted through the
    FileSystem API (metadata-only, no rewrite); overlapping and live
    partitions survive; remaining data stays readable."""
    import pyspark.sql.functions as F

    from carbonapi_spark.sources.lake import expire_tier
    p = str(tmp_path / "tier")
    rows = [("m.a", d * 86400 + h * 3600, float(h))
            for d in range(5) for h in range(3)]
    df = spark.createDataFrame(rows, "name STRING, ts LONG, value DOUBLE")
    (df.withColumn("day", (F.col("ts") - F.col("ts") % 86400))
     .write.partitionBy("day").parquet(p))
    now = 5 * 86400
    dropped = expire_tier(spark, p, retention_s=2 * 86400, now=now)
    # cutoff = 3d; buckets 0d/1d/2d END at or before it (bucket+1d <= 3d)
    assert dropped == [0, 86400, 2 * 86400]
    left = spark.read.parquet(p)
    assert sorted(r["day"] for r in left.select("day").distinct()
                  .collect()) == [3 * 86400, 4 * 86400]
    assert left.count() == 6
    # idempotent
    assert expire_tier(spark, p, retention_s=2 * 86400, now=now) == []
    # missing path is a no-op
    assert expire_tier(spark, str(tmp_path / "nope"), 1, now=now) == []
