"""The catalog's graphite and ANN oracles, replayed in the default run.

Every entry built by ``graphite_query`` — the render engine's frame read
the way a client gets it, densified — plus ``tiered_fetch`` runs on Spark
over the small testdata scale and is compared with its DuckDB oracle as
``tools/check_oracles.py`` compares them: same column names, same row
count, values order-insensitive at 6 dp.

Unit-test lakes store gaps as NULL rows; the testdata events series have
missing rows, so this is where a frame that treats a missing row unlike a
NULL row shows up.

The ANN entries (exact top-k, IVFADC encode and probe, the durable-index
lifecycle) are compared without rounding, as ``check_oracles.py
--strict`` compares them: their kernels fold in SQL order, so every
value equals the oracle's bit for bit.
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
ANN = ["ann_topk", "ann_quality", "rrf_fuse", "pq_ivf_topk",
       "pq_ivf_refine", "pq_ivf_residual", "ann_compact_probe",
       "ann_l0_probe", "stream_ann_replay", "ann_delete_probe",
       "ann_auto_route"]


def test_graphite_catalog_size():
    assert len(GRAPHITE) == 88


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


def _sorted_rows(cols, rows, strict):
    idx = [cols.index(c) for c in sorted(cols)]
    return normalize([tuple(r[i] for i in idx) for r in rows], strict)


def _replay(spark, duck, name, strict):
    try:
        sdf = QUERIES[name](spark, SF_DIR)
        got_cols, got = sdf.columns, [tuple(r) for r in sdf.collect()]
    finally:
        scratch.release()
    cur = duck.execute(ORACLES[name])
    want_cols = [d[0] for d in cur.description]
    want = cur.fetchall()
    assert sorted(got_cols) == sorted(want_cols)
    got = _sorted_rows(got_cols, got, strict)
    want = _sorted_rows(want_cols, want, strict)
    assert len(got) == len(want)
    bad = [(a, b) for a, b in zip(got, want) if a != b]
    assert not bad, f"{len(bad)} mismatched rows; first: {bad[0]}"


@pytest.mark.parametrize("name", GRAPHITE + ["tiered_fetch"])
def test_graphite_oracle(spark, duck, name):
    _replay(spark, duck, name, strict=False)


@pytest.mark.parametrize("name", ANN)
def test_ann_oracle_bit_exact(spark, duck, name):
    _replay(spark, duck, name, strict=True)


@pytest.mark.parametrize("name", GRAPHITE)
def test_static_step_matches_build(spark, name):
    """The static step pass reads every catalog target's step off its AST
    exactly as building the target gives it."""
    from carbonapi_spark.entry_queries import _cached_lake
    from carbonapi_spark.evaluator import EvalContext, eval_expr, static_step
    from carbonapi_spark.parser import parse
    q = QUERIES[name]
    cells = dict(zip(q.__code__.co_freevars,
                     (c.cell_contents for c in q.__closure__)))
    lake = _cached_lake(spark, SF_DIR)
    exp = parse(cells["target"])
    step = static_step(EvalContext(spark, lake, cells["from_ts"],
                                   cells["until_ts"]), exp)
    try:
        built = eval_expr(EvalContext(spark, lake, cells["from_ts"],
                                      cells["until_ts"]), exp).step
    finally:
        scratch.release()
    assert step == built
