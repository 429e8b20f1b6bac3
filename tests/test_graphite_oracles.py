"""The catalog's graphite oracles, replayed in the default run.

Every entry built by ``graphite_query`` — the render engine's frame read
the way a client gets it, densified — plus ``tiered_fetch`` runs on Spark
over the small testdata scale and is compared with its DuckDB oracle as
``tools/check_oracles.py`` compares them: same column names, same row
count, values order-insensitive at 6 dp.

Unit-test lakes store gaps as NULL rows; the testdata events series have
missing rows, so this is where a frame that treats a missing row unlike a
NULL row shows up.
"""

import duckdb
import pytest

from carbonapi_spark import scratch
from carbonapi_spark.entry_queries import ORACLES, QUERIES
from carbonapi_spark.sources.testdata import TABLES
from tests.test_strict_oracles import SF_DIR
from tools.check_oracles import normalize

GRAPHITE = [name for name, q in QUERIES.items()
            if q.__name__.startswith("graphite[")]


def test_graphite_catalog_size():
    assert len(GRAPHITE) == 88


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _sorted_rows(cols, rows):
    idx = [cols.index(c) for c in sorted(cols)]
    return normalize([tuple(r[i] for i in idx) for r in rows])


@pytest.mark.parametrize("name", GRAPHITE + ["tiered_fetch"])
def test_graphite_oracle(spark, duck, name):
    try:
        sdf = QUERIES[name](spark, SF_DIR)
        got_cols, got = sdf.columns, [tuple(r) for r in sdf.collect()]
    finally:
        scratch.release()
    cur = duck.execute(ORACLES[name])
    want_cols = [d[0] for d in cur.description]
    want = cur.fetchall()
    assert sorted(got_cols) == sorted(want_cols)
    got, want = _sorted_rows(got_cols, got), _sorted_rows(want_cols, want)
    assert len(got) == len(want)
    bad = [(a, b) for a, b in zip(got, want) if a != b]
    assert not bad, f"{len(bad)} mismatched rows; first: {bad[0]}"
