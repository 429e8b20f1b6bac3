"""Seeded benchmark inputs, generated outside the program under test.

Nothing here imports ``carbonapi_spark``: the inputs come from numpy,
pyarrow and DuckDB, so a change to the engine cannot change what it is
measured on.  Two datasets, each written once per seed and reused by
later runs with the same seed:

``sf``
    Tables shaped like the sf0.1 test data the catalog runs on, in
    ``tables/``: ``events.parquet`` (event_id, ts, user_id, event_type,
    value, props), ``documents.parquet`` (doc_id, text, lang, source,
    n_chars) and ``embeddings.parquet`` (vec_id, embedding, label), plus
    ``events_lake/``: the Graphite projection of the events table
    (``events.<type>`` and ``events.u<user % 10>.<type>``, hourly sums,
    55 series), written by DuckDB with the catalog oracle's SQL and
    partitioned by day.  The benchmark must read only inside its own
    checkout, so the tables are regenerated here instead of read from a
    shared test-data directory.
``wide``
    A synthetic Graphite namespace ``dc<d>.host<hh>.<subsys>.<metric>``
    plus tagged ``app.requests;dc=..;host=..;route=..`` series, 60 s step
    over 7 days, partitioned by day and sorted by name so name
    predicates prune row groups.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENTS_FROM = 1704067200        # 2024-01-01 00:00 UTC
EVENTS_DAYS = 30
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_EVENTS = 100_000
N_USERS = 1500
N_DOCS = 1000
N_VECS = 600
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ("en", "de", "fr", "es", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)

WIDE_FROM = 1704067200
WIDE_DAYS = 7
WIDE_STEP = 60
WIDE_UNTIL = WIDE_FROM + WIDE_DAYS * 86400
DCS = 2
HOSTS = 18
SUBSYS = ("cpu", "mem", "disk", "net")
METRICS = ("m0", "m1", "m2", "m3")
ROUTES = ("r0", "r1", "r2", "r3")
TAGGED_HOSTS = 8

# The catalog oracle's projection of the events table
# (carbonapi_spark.sources.testdata.ORACLE_EVENTS_CTE, the ``ev`` CTE),
# frozen here so an engine edit cannot change the benchmark's data.
EVENTS_PROJECTION_SQL = """
SELECT 'events.' || event_type AS name,
       CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ts,
       SUM(value) AS value
FROM events GROUP BY 1, 2
UNION ALL
SELECT 'events.u' || CAST(user_id % 10 AS VARCHAR) || '.' || event_type AS name,
       CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ts,
       SUM(value) AS value
FROM events GROUP BY 1, 2
"""


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, stream))])


def _events_table(seed: int) -> pa.Table:
    rng = _rng(seed, "events")
    span_us = EVENTS_DAYS * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, N_EVENTS)) + EVENTS_FROM * 1_000_000
    types = rng.integers(0, len(EVENT_TYPES), N_EVENTS)
    value = np.round(rng.gamma(1.5, 40.0, N_EVENTS), 2)
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in types], pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}'
                           for k in rng.integers(0, 100, N_EVENTS)]),
    })


def _documents_table(seed: int) -> pa.Table:
    """Random-word documents over a 30-word vocabulary; about one in
    twenty is an earlier document with a word appended, so every dedup
    detector finds pairs."""
    rng = _rng(seed, "documents")
    texts = []
    for i in range(N_DOCS):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    langs = rng.choice(len(LANGS), N_DOCS, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in langs], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings_table(seed: int) -> pa.Table:
    """Unit 64-d vectors; about one in ten is a small perturbation of an
    earlier one, so the similarity graph has edges and components."""
    rng = _rng(seed, "embeddings")
    vecs = rng.normal(size=(N_VECS, 64))
    for i in range(1, N_VECS):
        if rng.random() < 0.1:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(scale=0.15, size=64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(vecs.astype(np.float32).ravel()), 64).cast(pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
    })


def _write_events_lake(events_path: str, out_dir: str) -> None:
    import duckdb
    con = duckdb.connect()
    try:
        # one thread: the float sums then add in scan order, so a seed
        # always yields the same bytes
        con.execute("SET threads = 1")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')")
        con.execute(f"""COPY (
            SELECT name, ts, value, ts - ts % 86400 AS day
            FROM ({EVENTS_PROJECTION_SQL}) ORDER BY day, name, ts
        ) TO '{out_dir}' (FORMAT PARQUET, PARTITION_BY (day))""")
    finally:
        con.close()


def wide_names() -> list[str]:
    names = [f"dc{d}.host{h:02d}.{s}.{m}" for d in range(DCS)
             for h in range(HOSTS) for s in SUBSYS for m in METRICS]
    names += [f"app.requests;dc=dc{d};host=host{h:02d};route={r}"
              for d in range(DCS) for h in range(TAGGED_HOSTS) for r in ROUTES]
    return sorted(names)


def _write_wide_lake(seed: int, out_dir: str) -> None:
    """Every series at every step in [WIDE_FROM, WIDE_UNTIL), one file
    per day partition."""
    rng = _rng(seed, "wide")
    names = wide_names()
    n = len(names)
    base = rng.uniform(10, 1000, n)
    amp = rng.uniform(0.05, 0.5, n) * base
    phase = rng.uniform(0, 2 * np.pi, n)
    for day in range(WIDE_FROM, WIDE_UNTIL, 86400):
        per_day = 86400 // WIDE_STEP
        name_arr = pa.array(np.repeat(np.arange(n, dtype=np.int32), per_day))
        name_dict = pa.DictionaryArray.from_arrays(name_arr, pa.array(names))
        ts = day + WIDE_STEP * np.arange(per_day)
        t = np.tile(ts, n)
        wave = np.sin(2 * np.pi * (t - WIDE_FROM) / 86400 + np.repeat(phase, per_day))
        value = (np.repeat(base, per_day) + np.repeat(amp, per_day) * wave
                 + rng.normal(scale=5.0, size=n * per_day))
        # about 1% of points are missing, so fetches densify real gaps
        keep = rng.random(n * per_day) >= 0.01
        table = pa.table({
            "name": name_dict.filter(pa.array(keep)),
            "ts": pa.array(t[keep], pa.int64()),
            "value": pa.array(np.round(value[keep], 3), pa.float64()),
        })
        part = os.path.join(out_dir, f"day={day}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(table, os.path.join(part, "part-0.parquet"),
                       row_group_size=32768)


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _lake_size(path: str) -> dict:
    rows, names = 0, set()
    for root, _dirs, files in os.walk(path):
        for f in files:
            col = pq.read_table(os.path.join(root, f), columns=["name"]).column("name")
            rows += len(col)
            names.update(col.unique().to_pylist())
    return {"series": len(names), "rows": rows, "bytes": _tree_bytes(path)}


def ensure(dataset: str, seed: int, root: str) -> tuple[str, dict]:
    """Directory of ``dataset`` for ``seed`` under ``root`` and its sizes,
    generating it first if no complete copy exists."""
    out = os.path.join(root, f"{dataset}-seed{seed}")
    done = os.path.join(out, "SIZES.json")
    if os.path.exists(done):
        with open(done) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    if os.path.exists(tmp):
        import shutil
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    if dataset == "sf":
        # the tables get a directory of their own: streaming entries
        # read it whole as a file-stream source
        tables = os.path.join(tmp, "tables")
        os.makedirs(tables)
        events = os.path.join(tables, "events.parquet")
        pq.write_table(_events_table(seed), events)
        pq.write_table(_documents_table(seed), os.path.join(tables, "documents.parquet"))
        pq.write_table(_embeddings_table(seed), os.path.join(tables, "embeddings.parquet"))
        _write_events_lake(events, os.path.join(tmp, "events_lake"))
        sizes = {"events_lake": _lake_size(os.path.join(tmp, "events_lake")),
                 "tables": {t: {"rows": pq.ParquetFile(os.path.join(tables, f"{t}.parquet"))
                                .metadata.num_rows,
                                "bytes": os.path.getsize(os.path.join(tables, f"{t}.parquet"))}
                            for t in ("events", "documents", "embeddings")}}
    elif dataset == "wide":
        _write_wide_lake(seed, os.path.join(tmp, "lake"))
        sizes = {"lake": _lake_size(os.path.join(tmp, "lake"))}
    else:
        raise ValueError(f"unknown dataset {dataset!r}")
    with open(os.path.join(tmp, "SIZES.json"), "w") as f:
        json.dump(sizes, f)
    os.replace(tmp, out)
    return out, sizes
