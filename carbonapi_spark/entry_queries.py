"""Driver-contract query catalog: every entry pairs a Spark query (through
the real engine) with an ANSI-SQL DuckDB oracle over the same parquet
tables. This is the correctness gate (CORRECTNESS_r{N}.json).

Graphite queries run over the deterministic events->series projection
(`sources/testdata.py`); the oracle reproduces projection + operator in
pure SQL. Column names and value rounding (6 dp on doubles) are mirrored
exactly — the driver hashes values after sorting columns by name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from carbonapi_spark.sqltext import local_df as _local_df

from carbonapi_spark.evaluator import EvalContext, eval_target
from carbonapi_spark.model.series import NAME, TS, VALUE
from carbonapi_spark.sources.testdata import (
    EVENTS_FROM,
    EVENTS_STEP,
    EVENTS_UNTIL,
    events_series_lake,
    oracle_prefix,
)

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def _register(name: str, fn, oracle: str | None = None):
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle


# the lake projection is shared (and persisted) across catalog queries —
# it IS the lake; each query still plans/executes its own operator pipeline
_LAKE_CACHE: dict = {}


def _cached_lake(spark: SparkSession, sf_dir: str):
    key = (id(spark), sf_dir)
    if key not in _LAKE_CACHE:
        lake = events_series_lake(spark, sf_dir)
        lake.df = lake.df.persist()
        _LAKE_CACHE[key] = lake
    return _LAKE_CACHE[key]


def _wire_rows(frame) -> DataFrame:
    """(name, ts, value) rows of *frame* densified — the shape a client
    gets — with NaN read as a gap and values rounded to 6 dp."""
    v = F.col(VALUE)
    return frame.densify().df.select(
        F.col(NAME).alias("name"), F.col(TS).alias("ts"),
        F.round(F.when(~F.isnan(v), v), 6).alias("value"))


def graphite_query(target: str, from_ts: int = EVENTS_FROM,
                   until_ts: int = EVENTS_UNTIL):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        lake = _cached_lake(spark, sf_dir)
        ctx = EvalContext(spark, lake, from_ts, until_ts)
        return _wire_rows(eval_target(ctx, target))
    q.__name__ = f"graphite[{target}]"
    return q


def _g(name: str, target: str, oracle_body: str, name_filter: str,
       from_ts: int = EVENTS_FROM, until_ts: int = EVENTS_UNTIL):
    """Register a graphite query + oracle; oracle_body SELECTs from `dense`."""
    sql = f"WITH {oracle_prefix(name_filter, from_ts, until_ts)}\n{oracle_body}"
    _register(name, graphite_query(target, from_ts, until_ts), sql)


W_SERIES = "PARTITION BY name ORDER BY ts"

# --------------------------------------------------------------------------
# scans / fetch
# --------------------------------------------------------------------------

_g("fetch_glob", "events.u*.click",
   "SELECT name, ts, round(value, 6) AS value FROM dense",
   r"regexp_matches(name, '^events\.u[^.]*\.click$')")

_g("fetch_exact", "events.purchase",
   "SELECT name, ts, round(value, 6) AS value FROM dense",
   "name = 'events.purchase'")

# --------------------------------------------------------------------------
# cross-series aggregation
# --------------------------------------------------------------------------

_g("sum_series", "sumSeries(events.u*.click)",
   "SELECT 'sumSeries(events.u*.click)' AS name, ts, round(SUM(value), 6) AS value "
   "FROM dense GROUP BY ts",
   r"regexp_matches(name, '^events\.u[^.]*\.click$')")

_g("avg_series", "averageSeries(events.u*.view)",
   "SELECT 'averageSeries(events.u*.view)' AS name, ts, round(AVG(value), 6) AS value "
   "FROM dense GROUP BY ts",
   r"regexp_matches(name, '^events\.u[^.]*\.view$')")

_g("max_series", "maxSeries(events.*)",
   "SELECT 'maxSeries(events.*)' AS name, ts, round(MAX(value), 6) AS value "
   "FROM dense GROUP BY ts",
   r"regexp_matches(name, '^events\.[^.]*$')")

_g("count_series", "countSeries(events.u*.error)",
   "SELECT 'countSeries(events.u*.error)' AS name, ts, "
   "round(CASE WHEN COUNT(value) > 0 THEN CAST(COUNT(value) AS DOUBLE) END, 6) AS value "
   "FROM dense GROUP BY ts",
   r"regexp_matches(name, '^events\.u[^.]*\.error$')")

_g("group_by_node", "groupByNode(events.u*.*, 2, 'sum')",
   "SELECT split_part(name, '.', 3) AS name, ts, round(SUM(value), 6) AS value "
   "FROM dense GROUP BY 1, ts",
   r"regexp_matches(name, '^events\.u[^.]*\.[^.]*$')")

_g("percentile_of_series", "percentileOfSeries(events.u*.view, 75, true)",
   "SELECT 'percentileOfSeries(events.u*.view, 75, true)' AS name, ts, "
   "round(quantile_cont(value, 0.75), 6) AS value FROM dense GROUP BY ts",
   r"regexp_matches(name, '^events\.u[^.]*\.view$')")

# --------------------------------------------------------------------------
# per-point transforms
# --------------------------------------------------------------------------

_g("scale", "scale(events.click, 2.5)",
   "SELECT 'scale(events.click,2.5)' AS name, ts, round(value * 2.5, 6) AS value "
   "FROM dense",
   "name = 'events.click'")

_g("derivative", "derivative(events.click)",
   f"SELECT 'derivative(events.click)' AS name, ts, "
   f"round(value - lag(value) OVER ({W_SERIES}), 6) AS value FROM dense",
   "name = 'events.click'")

_g("non_negative_derivative", "nonNegativeDerivative(events.signup)",
   f"SELECT 'nonNegativeDerivative(events.signup)' AS name, ts, "
   f"round(CASE WHEN value - lag(value) OVER ({W_SERIES}) >= 0 "
   f"THEN value - lag(value) OVER ({W_SERIES}) END, 6) AS value FROM dense",
   "name = 'events.signup'")

_g("integral", "integral(events.click)",
   f"SELECT 'integral(events.click)' AS name, ts, "
   f"round(CASE WHEN value IS NOT NULL THEN "
   f"SUM(value) OVER ({W_SERIES} ROWS UNBOUNDED PRECEDING) END, 6) AS value "
   f"FROM dense",
   "name = 'events.click'")

_g("transform_null", "transformNull(events.error, 0)",
   "SELECT 'transformNull(events.error,0)' AS name, ts, "
   "round(COALESCE(value, 0), 6) AS value FROM dense",
   "name = 'events.error'")

_g("keep_last_value", "keepLastValue(events.error, 3)",
   """
SELECT 'keepLastValue(events.error,3)' AS name, d.ts,
       round(CASE WHEN d.value IS NOT NULL THEN d.value
                  WHEN d.last_ts IS NOT NULL AND (d.ts - d.last_ts) / 3600 <= 3
                       THEN lv.value END, 6) AS value
FROM (SELECT name, ts, value,
             max(CASE WHEN value IS NOT NULL THEN ts END)
                 OVER (PARTITION BY name ORDER BY ts) AS last_ts
      FROM dense) d
LEFT JOIN dense lv ON lv.name = d.name AND lv.ts = d.last_ts
""".strip(),
   "name = 'events.error'")

_g("invert", "invert(events.view)",
   "SELECT 'invert(events.view)' AS name, ts, "
   "round(CASE WHEN value != 0 THEN 1.0 / value END, 6) AS value FROM dense",
   "name = 'events.view'")

_g("offset_to_zero", "offsetToZero(events.purchase)",
   "SELECT 'offsetToZero(events.purchase)' AS name, ts, "
   "round(value - MIN(value) OVER (PARTITION BY name), 6) AS value FROM dense",
   "name = 'events.purchase'")

# --------------------------------------------------------------------------
# alias family
# --------------------------------------------------------------------------

_g("alias_by_node", "aliasByNode(events.u*.signup, 1)",
   "SELECT split_part(name, '.', 2) AS name, ts, round(value, 6) AS value FROM dense",
   r"regexp_matches(name, '^events\.u[^.]*\.signup$')")

_g("alias_sub", "aliasSub(events.u*.click, 'events.u(\\d+)', 'user\\1')",
   "SELECT regexp_replace(name, 'events.u(\\d+)', 'user\\1') AS name, ts, "
   "round(value, 6) AS value FROM dense",
   r"regexp_matches(name, '^events\.u[^.]*\.click$')")

# --------------------------------------------------------------------------
# time buckets / windows
# --------------------------------------------------------------------------

_g("summarize_1d", "summarize(events.click, '1d')",
   f"""
, bucket_spine AS (
  SELECT ts FROM generate_series({EVENTS_FROM}, {EVENTS_UNTIL}, 86400) g(ts)
), agg AS (
  SELECT ts - ts % 86400 AS bts, SUM(value) AS v FROM dense GROUP BY 1
)
SELECT 'summarize(events.click,''1d'')' AS name, b.ts, round(a.v, 6) AS value
FROM bucket_spine b LEFT JOIN agg a ON a.bts = b.ts
""".strip(),
   "name = 'events.click'")

_g("summarize_max", "summarize(events.view, '6h', 'max')",
   f"""
, bucket_spine AS (
  SELECT ts FROM generate_series({EVENTS_FROM}, {EVENTS_UNTIL}, 21600) g(ts)
), agg AS (
  SELECT ts - ts % 21600 AS bts, MAX(value) AS v FROM dense GROUP BY 1
)
SELECT 'summarize(events.view,''6h'',''max'')' AS name, b.ts, round(a.v, 6) AS value
FROM bucket_spine b LEFT JOIN agg a ON a.bts = b.ts
""".strip(),
   "name = 'events.view'")

_g("hitcount_1d", "hitcount(events.view, '1d')",
   f"""
, bucket_spine AS (
  SELECT ts FROM generate_series({EVENTS_FROM}, {EVENTS_UNTIL} - 86400, 86400) g(ts)
), agg AS (
  SELECT ts - ts % 86400 AS bts, SUM(value * 3600) AS v
  FROM dense WHERE value IS NOT NULL GROUP BY 1
)
SELECT 'hitcount(events.view,''1d'')' AS name, b.ts, round(a.v, 6) AS value
FROM bucket_spine b LEFT JOIN agg a ON a.bts = b.ts
""".strip(),
   "name = 'events.view'")

_g("moving_average", "movingAverage(events.click, 6)",
   f"SELECT 'movingAverage(events.click,6)' AS name, ts, "
   f"round(AVG(value) OVER ({W_SERIES} ROWS BETWEEN 5 PRECEDING AND CURRENT ROW), 6) "
   f"AS value FROM dense",
   "name = 'events.click'")

_g("moving_sum_interval", "movingSum(events.purchase, '12h')",
   f"SELECT 'movingSum(events.purchase,''12h'')' AS name, ts, "
   f"round(SUM(value) OVER ({W_SERIES} ROWS BETWEEN 11 PRECEDING AND CURRENT ROW), 6) "
   f"AS value FROM dense",
   "name = 'events.purchase'")

_g("stdev", "stdev(events.click, 6)",
   f"""
SELECT 'stdev(events.click,6)' AS name, ts,
       round(CASE WHEN value IS NOT NULL AND NOT (idx >= 5 AND nn < 5)
                  THEN COALESCE(sd, 0) END, 6) AS value
FROM (
  SELECT name, ts, value,
         row_number() OVER ({W_SERIES}) - 1 AS idx,
         count(value) OVER ({W_SERIES} ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS nn,
         stddev_pop(value) OVER ({W_SERIES} ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS sd
  FROM dense)
""".strip(),
   "name = 'events.click'")

# --------------------------------------------------------------------------
# sorts / filters / top-k
# --------------------------------------------------------------------------

_g("highest_average", "highestAverage(events.u*.click, 3)",
   """
, sel AS (SELECT name FROM dense GROUP BY name
          ORDER BY AVG(value) DESC NULLS LAST, name LIMIT 3)
SELECT d.name, d.ts, round(d.value, 6) AS value
FROM dense d JOIN sel USING (name)
""".strip(),
   r"regexp_matches(name, '^events\.u[^.]*\.click$')")

_g("sort_limit", "limit(sortByTotal(events.u*.purchase), 2)",
   """
, sel AS (SELECT name FROM dense GROUP BY name
          ORDER BY SUM(value) DESC NULLS LAST, name LIMIT 2)
SELECT d.name, d.ts, round(d.value, 6) AS value
FROM dense d JOIN sel USING (name)
""".strip(),
   r"regexp_matches(name, '^events\.u[^.]*\.purchase$')")

_g("maximum_above", "maximumAbove(events.u*.view, 40)",
   """
, sel AS (SELECT name FROM dense GROUP BY name HAVING MAX(value) > 40)
SELECT d.name, d.ts, round(d.value, 6) AS value
FROM dense d JOIN sel USING (name)
""".strip(),
   r"regexp_matches(name, '^events\.u[^.]*\.view$')")

_g("grep_filter", "grep(events.u*.error, 'u[0-4]')",
   "SELECT name, ts, round(value, 6) AS value FROM dense "
   "WHERE regexp_matches(name, 'u[0-4]')",
   r"regexp_matches(name, '^events\.u[^.]*\.error$')")

_g("remove_above_value", "removeAboveValue(events.click, 30)",
   "SELECT 'removeAboveValue(events.click,30)' AS name, ts, "
   "round(CASE WHEN value <= 30 THEN value END, 6) AS value FROM dense",
   "name = 'events.click'")

# --------------------------------------------------------------------------
# joins
# --------------------------------------------------------------------------

_g("divide_series", "divideSeries(events.purchase, events.click)",
   """
SELECT 'divideSeries(events.purchase,events.click)' AS name, a.ts,
       round(CASE WHEN b.value != 0 THEN a.value / b.value END, 6) AS value
FROM (SELECT ts, value FROM dense WHERE name = 'events.purchase') a
JOIN (SELECT ts, value FROM dense WHERE name = 'events.click') b USING (ts)
""".strip(),
   "name IN ('events.purchase', 'events.click')")

_g("as_percent_total", "asPercent(events.u*.error)",
   """
SELECT 'asPercent(' || name || ',sumSeries(events.u*.error))' AS name, ts,
       round(CASE WHEN SUM(value) OVER (PARTITION BY ts) != 0
                  THEN value / SUM(value) OVER (PARTITION BY ts) * 100 END, 6) AS value
FROM dense
""".strip(),
   r"regexp_matches(name, '^events\.u[^.]*\.error$')")

# timeShift: engine runs over [from+1d, until) fetching the displaced window
# [from, until-1d); the oracle densifies the displaced window and relabels.
_register(
    "time_shift",
    graphite_query("timeShift(events.click, '-1d')",
                   EVENTS_FROM + 86400, EVENTS_UNTIL),
    f"""WITH {oracle_prefix("name = 'events.click'", EVENTS_FROM, EVENTS_UNTIL - 86400)}
SELECT 'timeShift(events.click,''-1d'')' AS name, ts + 86400 AS ts,
       round(value, 6) AS value
FROM dense""")

# --------------------------------------------------------------------------
# training-data pipeline: documents / embeddings
# --------------------------------------------------------------------------

def _q_dedup_exact(spark, sf_dir):
    from carbonapi_spark.datapipe.dedup import exact_dedup
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dedup(docs).select(
        F.col("keeper_id").cast("long"), F.col("n_copies").cast("long"))


_register("dedup_exact", _q_dedup_exact, """
SELECT CAST(MIN(doc_id) AS BIGINT) AS keeper_id, CAST(COUNT(*) AS BIGINT) AS n_copies
FROM documents GROUP BY text
""".strip())


def _q_token_count(spark, sf_dir):
    from carbonapi_spark.datapipe.text import token_count
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id", token_count(F.col("text")).cast("long").alias("n_tokens"))


_register("token_count", _q_token_count, r"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x != '')) AS BIGINT)
           AS n_tokens
FROM documents
""".strip())


def _q_doc_quality(spark, sf_dir):
    from carbonapi_spark.datapipe.text import quality_features
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_features(docs)


_register("doc_quality", _q_doc_quality, r"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       round(CASE WHEN len(toks) > 0
             THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / len(toks)
             ELSE 0 END, 6) AS avg_token_len,
       round(CAST(length(text) - length(regexp_replace(text, '[^\w \t\n\x0B\f\r]', '', 'g')) AS DOUBLE)
             / NULLIF(length(text), 0), 6) AS punct_ratio,
       round(CAST(len(list_filter(toks, x -> list_contains(['the','and','of','to','in'], lower(x)))) AS DOUBLE)
             / NULLIF(len(toks), 0), 6) AS stopword_ratio
FROM (SELECT doc_id, text,
             list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x != '') AS toks
      FROM documents)
""".strip())


def _q_lang_scores(spark, sf_dir):
    from carbonapi_spark.datapipe.text import lang_scores
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lang_scores(docs)


_register("lang_scores", _q_lang_scores, r"""
SELECT doc_id,
       CAST(len(list_intersect(ws, ['the','and','of','to','in'])) AS BIGINT) AS score_en,
       CAST(len(list_intersect(ws, ['der','die','und','das','ist'])) AS BIGINT) AS score_de,
       CAST(len(list_intersect(ws, ['le','la','les','et','est'])) AS BIGINT) AS score_fr,
       CAST(len(list_intersect(ws, ['el','los','las','es','una'])) AS BIGINT) AS score_es
FROM (SELECT doc_id,
             list_distinct(list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'), x -> x != '')) AS ws
      FROM documents)
""".strip())


def _q_ann_topk(spark, sf_dir):
    from carbonapi_spark.datapipe.similarity import brute_force_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = emb.where(F.col("vec_id") < 5)
    return brute_force_topk(emb, query, k=10)


_register("ann_topk", _q_ann_topk, """
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 5),
     c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
     sims AS (
       SELECT query_id, neighbor_id,
              round(list_dot_product(qv, cv)
                    / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))),
                    6) AS cos_sim
       FROM c, q WHERE neighbor_id != query_id)
SELECT query_id, neighbor_id, cos_sim FROM sims
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY cos_sim DESC, neighbor_id) <= 10
""".strip())


_MARGIN_AVG = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {l}), "
               "(a, x) -> a + x) / len({l})")


def _q_margin_topk(spark, sf_dir):
    """Margin-based neighbor mining (Artetxe & Schwenk 2019, the
    LASER/CCMatrix criterion): rescore each query's top-10 cosine
    candidates by cos divided by the mean of the two sides' 4-NN
    average cosines — the hub-corrected ranking every large-scale
    bitext pipeline uses in place of raw cosine.  One corpus pass + a candidate-bounded rescore
    pass; both averages fold a DESC-sorted bounded list sequentially,
    so the replay is exact."""
    from carbonapi_spark.datapipe.similarity import margin_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return margin_topk(emb, emb.where(F.col("vec_id") < 16), k=10, knn=4)


def _margin_topk_oracle() -> str:
    ax_l = "list_reverse_sort(list(cos_sim))[1:4]"
    ay_l = "list_reverse_sort(list(cos_sim))[1:4]"
    return f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 16),
c AS (SELECT vec_id AS cand_id, embedding::DOUBLE[] AS cv FROM embeddings),
sims AS (
  SELECT query_id, cand_id,
         round(list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv))
                  * sqrt(list_dot_product(cv, cv))), 6) AS cos_sim
  FROM c, q WHERE cand_id != query_id),
ranked AS (
  SELECT query_id, cand_id, cos_sim,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos_sim DESC, cand_id) AS rk
  FROM sims),
ax AS (SELECT query_id, {_MARGIN_AVG.format(l=ax_l)} AS axv
       FROM ranked WHERE rk <= 4 GROUP BY query_id),
cand AS (SELECT query_id, cand_id, cos_sim FROM ranked WHERE rk <= 10),
ay AS (SELECT cand_id, {_MARGIN_AVG.format(l=ay_l)} AS ayv
       FROM sims
       WHERE cand_id IN (SELECT DISTINCT cand_id FROM cand)
       GROUP BY cand_id)
SELECT t.query_id, t.cand_id, t.cos_sim,
       CASE WHEN (axv + ayv) / 2 != 0
            THEN round(t.cos_sim / ((axv + ayv) / 2), 6) END AS margin
FROM cand t JOIN ax USING (query_id) JOIN ay USING (cand_id)
""".strip()


_register("margin_topk", _q_margin_topk, _margin_topk_oracle())


def _q_minhash_dedup(spark, sf_dir):
    """Near-dup pairs via MinHash-LSH + exact Jaccard verify. The whole
    pipeline (xxhash64, affine permutations, banding, bucket pairing,
    Jaccard) is deterministic, so the oracle replays it exactly in DuckDB
    — including XXH64 itself (``carbonapi_spark/oracle_xxh64.py``)."""
    from carbonapi_spark.datapipe.dedup import jaccard_verify, minhash_lsh_candidates
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = minhash_lsh_candidates(docs, num_hashes=16, bands=4, ngram=2)
    return jaccard_verify(docs, pairs, ngram=2, threshold=0.2)


_TOKS_SQL = r"list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0B\f\r]+'), x -> x != '')"

# BPE token universe (bpe.word_counts/bpe_encode): tokens of the RAW
# text, printable-ASCII types only, lowercased AFTER the filter — the
# char-split/lower() portability contract (see datapipe/bpe.py
# docstring).  Yields (doc_id, tok) rows.
_BPE_TOKS_SQL = r"""
(SELECT doc_id, lower(word) AS tok
 FROM (SELECT doc_id,
              unnest(list_filter(
                  regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'),
                  x -> x != '')) AS word
       FROM documents)
 WHERE NOT regexp_matches(word, '[^!-~]'))""".strip()


def _sym_init_sql(col: str) -> str:
    """Boundary-WRAPPED symbol encoding: every symbol individually
    wrapped in unit separators (``\\x1f c \\x1f\\x1f c \\x1f``...), so
    adjacent-pair occurrences of a merge pattern are character-disjoint
    and one merge step is ONE plain ``replace()`` (see
    ``_merge_step_sql``).  The char split is range+substr — the exact
    construct the driver-green unigram oracles use — replacing
    ``string_split(x, '')``, which (with ``list_reduce``) was the
    DuckDB-version-sensitive seam behind the r07–r09 bpe/wordpiece
    driver hash failures (local 1.0.0 agreed with Spark; the driver's
    DuckDB did not)."""
    sep = "chr(31)"
    return (f"{sep} || array_to_string(list_transform("
            f"range(1, length({col}) + 1), i -> substr({col}, i, 1)), "
            f"{sep} || {sep}) || {sep}")


def _merge_step_sql(sym: str, lhs: str, rhs: str) -> str:
    """One non-overlapping left-to-right BPE merge as ONE ``replace``.

    Under the wrapped encoding a pattern occurrence
    ``\\x1f l \\x1f\\x1f r \\x1f`` can only align on whole-symbol
    boundaries (symbols never contain the separator), and two
    occurrences never share characters — adjacent pairs share a SYMBOL
    only when lhs == rhs, where leftmost-non-overlapping global replace
    pairs a run greedily from the left exactly like the sequential fold
    (property-pinned against ``bpe._py_merge`` in
    tests/test_cross_engine_text.py).  ``replace`` has had identical
    semantics in every DuckDB release, unlike ``list_reduce``."""
    sep = "chr(31)"
    return (f"replace({sym}, {sep} || {lhs} || {sep} || {sep} || {rhs}"
            f" || {sep}, {sep} || {lhs} || {rhs} || {sep})")


def _minhash_pair_ctes(where: str = "") -> str:
    """CTE chain ending at ``__pairs`` (DISTINCT id_a < id_b candidate
    pairs): the banded-LSH replay shared by the batch (minhash_dedup),
    incremental (minhash_incremental), and S-curve-eval (lsh_quality)
    oracles.  ``where`` restricts the source corpus (e.g. the bounded
    eval sample)."""
    from carbonapi_spark.datapipe.dedup import MERSENNE, _affine_params
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    p = MERSENNE
    mins = ",\n       ".join(
        f"coalesce(min((__hb * {a} + {b}) % {p}), {p}) AS __m{i}"
        for i, (a, b) in enumerate(_affine_params(16, 42)))
    degenerate = ", ".join([f"{p} AS __m{i}" for i in range(16)])
    band_key = ",\n       ".join(
        "(" + " || ',' || ".join(f"CAST(__m{4 * b + r} AS VARCHAR)"
                                 for r in range(4)) + f") AS __k{b}"
        for b in range(4))
    return f"""
__d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents {where}),
__sh AS (SELECT doc_id,
              list_distinct(list_transform(range(greatest(len(toks) - 1, 0)),
                                           j -> toks[j + 1] || ' ' || toks[j + 2]))
              AS sh FROM __d),
__g AS (SELECT DISTINCT unnest(sh) AS t FROM __sh),
{xxh64_ctes('__g', 't', 'h64', '__xxh')},
__hb AS (SELECT t, ((h64 % {p}) + {p}) % {p} AS __hb FROM __xxh),
__ds AS (SELECT doc_id, unnest(sh) AS t FROM __sh),
__sig AS (SELECT doc_id, {mins}
          FROM __ds JOIN __hb USING (t) GROUP BY doc_id
          UNION ALL
          SELECT doc_id, {degenerate} FROM __sh WHERE len(sh) = 0),
__banded AS (SELECT doc_id, {band_key} FROM __sig),
__bk AS (SELECT doc_id, unnest([struct_pack(band := 0, key := __k0),
                                struct_pack(band := 1, key := __k1),
                                struct_pack(band := 2, key := __k2),
                                struct_pack(band := 3, key := __k3)]) AS bk
         FROM __banded),
__buck AS (SELECT bk.band, bk.key, (list_sort(list(doc_id)))[1:2000] AS ids
           FROM __bk GROUP BY 1, 2 HAVING len((list_sort(list(doc_id)))[1:2000]) > 1),
__pairs0 AS (SELECT unnest(flatten(list_transform(range(len(ids) - 1),
                 i -> list_transform(ids[i + 2:], x -> [ids[i + 1], x])))) AS pr
             FROM __buck),
__pairs AS (SELECT DISTINCT pr[1] AS id_a, pr[2] AS id_b FROM __pairs0)""".strip()


def _minhash_oracle() -> str:
    return f"""
WITH {_minhash_pair_ctes()},
__j AS (SELECT id_a, id_b,
               len(list_intersect(a.sh, b.sh)) AS inter,
               len(list_distinct(list_concat(a.sh, b.sh))) AS uni
        FROM __pairs
        JOIN __sh a ON a.doc_id = id_a
        JOIN __sh b ON b.doc_id = id_b)
SELECT id_a, id_b,
       round(CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE) / uni
                  ELSE 0.0 END, 6) AS jaccard
FROM __j
WHERE round(CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE) / uni
            ELSE 0.0 END, 6) >= 0.2
""".strip()


_register("minhash_dedup", _q_minhash_dedup, _minhash_oracle())


def _q_split_leakage(spark, sf_dir):
    """Split-hygiene audit: near-duplicate pairs (banded MinHash +
    exact Jaccard >= 0.2) whose two sides land in DIFFERENT train/val/
    test hash splits — the eval-inflation route Lee et al. 2022 report
    in C4.  The split gate is applied as an id-hash EXPRESSION on the
    pair table; the corpus-sized assignment table is never built."""
    from carbonapi_spark.datapipe.dedup import split_leakage
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return split_leakage(docs, val=0.1, test=0.1, threshold=0.2)


def _split_leakage_oracle() -> str:
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    return f"""
WITH __jv AS MATERIALIZED (SELECT * FROM ({_minhash_oracle()})),
__lki AS (SELECT DISTINCT did
          FROM (SELECT id_a AS did FROM __jv
                UNION ALL SELECT id_b AS did FROM __jv)),
__lk AS (SELECT did, 'split:' || CAST(did AS VARCHAR) AS t FROM __lki),
{xxh64_ctes('__lk', 't', 'h64', '__lkh')},
__lsp AS (SELECT did, CASE WHEN b < 100000 THEN 'val'
                           WHEN b < 200000 THEN 'test'
                           ELSE 'train' END AS split
          FROM (SELECT did, ((h64 % 1000000) + 1000000) % 1000000 AS b
                FROM __lkh))
SELECT id_a, id_b, jaccard,
       sa.split AS split_a, sb.split AS split_b
FROM __jv JOIN __lsp sa ON sa.did = id_a
          JOIN __lsp sb ON sb.did = id_b
WHERE sa.split != sb.split
""".strip()


_register("split_leakage", _q_split_leakage, _split_leakage_oracle())


def _q_minhash_incremental(spark, sf_dir):
    """Incremental near-dup candidates: every fifth doc (id % 5 == 4)
    is the delta batch, the rest the already-indexed corpus
    (minhash_band_index) — the daily-update shape where only the delta
    is shingled/hashed, and the slice stays 20% at EVERY scale factor
    (an absolute id cutoff made the \"delta\" 92% of the corpus at
    sf0.1). Truncation follows the batch sorted-prefix rule, so the
    result is EXACTLY the batch pipeline's pairs restricted to
    delta-involving ones — which is what the oracle computes
    (full-corpus band replay + delta filter)."""
    from carbonapi_spark.datapipe.dedup import (
        minhash_band_index, minhash_incremental_candidates)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = minhash_band_index(docs.where(F.col("doc_id") % 5 != 4),
                             num_hashes=16, bands=4, ngram=2)
    return minhash_incremental_candidates(
        docs.where(F.col("doc_id") % 5 == 4), idx,
        num_hashes=16, bands=4, ngram=2)


_register("minhash_incremental", _q_minhash_incremental, f"""
WITH {_minhash_pair_ctes()}
SELECT id_a, id_b FROM __pairs
WHERE id_a % 5 = 4 OR id_b % 5 = 4
""".strip())


def _q_band_compact_probe(spark, sf_dir):
    """Durable band-index maintenance end-to-end (r14; completes the
    compaction matrix — every durable index now has a driver row:
    ANN ``ann_compact_probe``, BM25 ``text_compact_probe``, and this):
    build the MinHash band index over 4/5 of the documents
    (``write_band_index``), append the even half of the remaining
    fifth TWICE (the at-least-once replay duplication — inflated
    bucket populations are what pushes a bucket past the probe's
    ``max_bucket`` truncation cap), run ``compact_band_index``, then
    probe with the odd half.  Compaction must be invisible to probe
    semantics: the result equals the clean single-copy incremental
    candidates, and since epoch ∪ probe is exactly the ``% 5 == 4``
    slice, the oracle is the batch pair replay restricted to
    probe-involving pairs (same restriction rule as
    ``minhash_incremental``)."""
    import tempfile

    from carbonapi_spark.datapipe.dedup import (
        append_band_index, compact_band_index, probe_band_index,
        write_band_index)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 5 != 4)
    epoch = docs.where((F.col("doc_id") % 5 == 4)
                       & (F.col("doc_id") % 2 == 0))
    probe = docs.where((F.col("doc_id") % 5 == 4)
                       & (F.col("doc_id") % 2 == 1))
    with tempfile.TemporaryDirectory() as tmp:
        p = f"{tmp}/bands"
        write_band_index(corpus, p, num_hashes=16, bands=4, ngram=2)
        # L0 appends (r14): one flat file per batch instead of one
        # file into each of the 256 touched (band, bucket) dirs —
        # compaction folds the L0 side table into the layout, and the
        # probe result is pinned identical by the oracle either way
        append_band_index(epoch, p, l0=True)
        append_band_index(epoch, p, l0=True)     # the replayed epoch
        stats = compact_band_index(spark, p)
        assert stats["rows_after"] < stats["rows_before"]
        out = probe_band_index(spark, p, probe)
        rows = out.collect()
        schema = out.schema
    return _local_df(spark, rows, schema)


_register("band_compact_probe", _q_band_compact_probe, f"""
WITH {_minhash_pair_ctes()}
SELECT id_a, id_b FROM __pairs
WHERE (id_a % 5 = 4 AND id_a % 2 = 1) OR (id_b % 5 = 4 AND id_b % 2 = 1)
""".strip())


def _q_minhash_estimate(spark, sf_dir):
    """Signature-agreement Jaccard estimation (Broder 1997) over the LSH
    candidates: rank near-dups from K component comparisons per pair
    instead of exact shingle-set intersection.  The signature table is
    computed ONCE (persisted via the request-scoped scratch registry)
    and shared by the banding stage and the estimation joins — without
    ``sigs=`` the composition would run the explode + 16-min-agg
    pipeline twice."""
    from carbonapi_spark import scratch
    from carbonapi_spark.datapipe.dedup import (minhash_estimate,
                                                minhash_lsh_candidates,
                                                minhash_signatures_df)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sig = scratch.track(minhash_signatures_df(docs, num_hashes=16, ngram=2))
    pairs = minhash_lsh_candidates(docs, num_hashes=16, bands=4, ngram=2,
                                   sigs=sig)
    return minhash_estimate(docs, pairs, num_hashes=16, ngram=2, sigs=sig)


_register("minhash_estimate", _q_minhash_estimate, f"""
WITH {_minhash_pair_ctes()}
SELECT id_a, id_b,
       round(({" + ".join(f"CASE WHEN a.__m{i} = b.__m{i} THEN 1 ELSE 0 END"
                          for i in range(16))}) / 16.0, 6) AS est_jaccard
FROM __pairs
JOIN __sig a ON a.doc_id = id_a
JOIN __sig b ON b.doc_id = id_b
""".strip())


def _q_lsh_quality(spark, sf_dir):
    """Empirical LSH S-curve report (MMDS §3.4) on a bounded eval
    sample: per true-Jaccard decile, how many pairs exist, how many the
    production banding stage surfaced, and the textbook
    1-(1-s^r)^b capture probability at the bin midpoint.  All-pairs
    ground truth is quadratic, so the sample is an absolute id slice
    (500 docs at every scale factor — the harness hard-fails on
    unbounded input).  Bin edges are integer arithmetic and the theory
    curve is expanded multiplication (no pow/libm), so the whole report
    replays bit-for-bit in DuckDB."""
    from carbonapi_spark.datapipe.dedup import lsh_candidate_quality
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return lsh_candidate_quality(docs.where(F.col("doc_id") < 500),
                                 num_hashes=16, bands=4, ngram=2, bins=10)


_register("lsh_quality", _q_lsh_quality, f"""
WITH {_minhash_pair_ctes(where="WHERE doc_id < 500")},
__t AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.sh, b.sh))::BIGINT AS inter,
               len(list_distinct(list_concat(a.sh, b.sh)))::BIGINT AS uni
        FROM __sh a JOIN __sh b ON a.doc_id < b.doc_id),
__bt AS (SELECT CASE WHEN uni = 0 THEN 0
                     ELSE least((inter * 10) // uni, 9) END AS bin,
                CASE WHEN p.id_a IS NULL THEN 0 ELSE 1 END AS caught
         FROM __t t
         LEFT JOIN __pairs p ON t.id_a = p.id_a AND t.id_b = p.id_b),
__grp AS (SELECT bin, count(*) AS n_pairs, sum(caught) AS n_candidates
          FROM __bt GROUP BY bin),
__th AS (SELECT *, (bin + 0.5) / 10.0 AS s FROM __grp),
__th2 AS (SELECT *, 1.0 - s * s * s * s AS q FROM __th)
SELECT bin, n_pairs, CAST(n_candidates AS BIGINT) AS n_candidates,
       CAST(n_candidates AS DOUBLE) / n_pairs AS capture_rate,
       1.0 - q * q * q * q AS theory_capture
FROM __th2
""".strip())


def _q_stream_minhash_replay(spark, sf_dir):
    """The STREAMING LSH dedup path made scoreboard-visible: documents
    replayed through ``stream_minhash_candidates``'s stateful kernel
    (applyInPandasWithState) as a file stream with an availableNow
    trigger, pairs gathered via foreachBatch. With no bucket overflow
    (docs << max_bucket) the distinct pair set is arrival-order-free
    and equals the batch candidates — the same ``__pairs`` oracle as
    minhash_dedup restricted to the same id slice. The slice (500 docs)
    bounds the per-row HOF signature cost: the streaming kernel pays
    interpreted array-HOF signatures per row (latency-shaped, see
    ``stream_minhash_candidates``), which at full sf0.1 would make this
    one bench entry ~8 s — scale behavior lives in the smoke; this entry
    pins the numbers. Restart/checkpoint semantics are pinned separately
    in pytest."""
    import tempfile

    from carbonapi_spark.streaming.stateful import stream_minhash_candidates
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir)  # file source needs a DIRECTORY
              .where(F.col("doc_id") < 500))
    out = stream_minhash_candidates(stream, num_hashes=16, bands=4,
                                    ngram=2, max_bucket=2000)
    rows: set = set()

    def sink(bdf, _bid):
        rows.update((r["id_a"], r["id_b"])
                    for r in bdf.select("id_a", "id_b").collect())

    # The stateful exchange uses spark.sql.shuffle.partitions, and each
    # state partition pays a Python-worker round trip per micro-batch;
    # at this entry's 500-doc slice, 8 partitions shave ~15% wall vs 32
    # (2.55 vs 3.0 s warm). Scoped + restored: the conf is captured when
    # the stream STARTS, so the surrounding batch queries never see it.
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (out.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return _local_df(spark, sorted(rows) or [],
                                 "id_a LONG, id_b LONG")


_register("stream_minhash_replay", _q_stream_minhash_replay, f"""
WITH {_minhash_pair_ctes().replace(
    "AS toks FROM documents",
    "AS toks FROM documents WHERE doc_id < 500")}
SELECT id_a, id_b FROM __pairs
""".strip())


def _q_ngram_jaccard(spark, sf_dir):
    """Standalone exact n-gram Jaccard (the dedup family's verify metric as
    a first-class op): all pairs among a bounded deterministic doc subset,
    scored with 2-gram Jaccard. Candidate generation is LSH elsewhere
    (minhash_dedup); this pins the exact-similarity kernel itself."""
    from carbonapi_spark.datapipe.dedup import jaccard_verify
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.where(F.col("doc_id") < 40).select("doc_id")
    a = ids.select(F.col("doc_id").alias("id_a"))
    b = ids.select(F.col("doc_id").alias("id_b"))
    pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
    return jaccard_verify(docs, pairs, ngram=2, threshold=0.05)


_register("ngram_jaccard", _q_ngram_jaccard, f"""
WITH __d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE doc_id < 40),
__sh AS (SELECT doc_id,
              list_distinct(list_transform(range(greatest(len(toks) - 1, 0)),
                                           j -> toks[j + 1] || ' ' || toks[j + 2]))
              AS sh FROM __d),
__j AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               len(list_intersect(a.sh, b.sh)) AS inter,
               len(list_distinct(list_concat(a.sh, b.sh))) AS uni
        FROM __sh a JOIN __sh b ON a.doc_id < b.doc_id)
SELECT id_a, id_b,
       round(CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE) / uni
                  ELSE 0.0 END, 6) AS jaccard
FROM __j
WHERE round(CASE WHEN uni > 0 THEN CAST(inter AS DOUBLE) / uni
            ELSE 0.0 END, 6) >= 0.05
""".strip())


def _q_simhash(spark, sf_dir):
    """64-bit SimHash per document; oracle recomputes XXH64 + the sign-sum
    bit sampling in DuckDB (``carbonapi_spark/oracle_xxh64.py``)."""
    from carbonapi_spark.datapipe.dedup import simhash_df
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_df(docs, bits=64)


def _simhash_oracle() -> str:
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    return f"""
WITH __tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS t FROM documents),
__g AS (SELECT DISTINCT t FROM __tok),
{xxh64_ctes('__g', 't', 'h64', '__xxh')},
__u AS (SELECT t, CAST(CAST(h64 AS HUGEINT)
                       + CASE WHEN h64 < 0 THEN 18446744073709551616 ELSE 0 END
                       AS UBIGINT) AS hu FROM __xxh),
__bits AS (SELECT doc_id, i.i,
                  SUM(CASE WHEN (hu >> CAST(i.i AS INTEGER)) & 1 = 1
                           THEN 1 ELSE -1 END) AS s
           FROM __tok JOIN __u USING (t)
           CROSS JOIN (SELECT unnest(range(64)) AS i) i
           GROUP BY doc_id, i.i),
__sh AS (SELECT doc_id,
                CAST(SUM(CASE WHEN s > 0 THEN
                       CASE WHEN i = 63 THEN -9223372036854775808
                            ELSE CAST(1 AS BIGINT) << CAST(i AS INTEGER) END
                     ELSE 0 END) AS BIGINT) AS simhash
         FROM __bits GROUP BY doc_id)
SELECT d.doc_id, coalesce(s.simhash, 0) AS simhash
FROM documents d LEFT JOIN __sh s USING (doc_id)
""".strip()


_register("simhash", _q_simhash, _simhash_oracle())


def _q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: band bucket join + Hamming<=3 verify. The
    4x16-bit banding is lossless for Hamming<=3 (pigeonhole), so the
    all-pairs oracle below checks EXACT equivalence of the bucketed plan."""
    from carbonapi_spark.datapipe.dedup import simhash_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash_pairs(docs, bits=64, bands=4, max_hamming=3)


def _simhash_pairs_oracle() -> str:
    sketch = _simhash_oracle()
    head, _, _ = sketch.rpartition("SELECT")  # keep the WITH chain only
    return f"""
{head.rstrip()},
__all AS (SELECT d.doc_id, coalesce(s.simhash, 0) AS h
          FROM documents d LEFT JOIN __sh s USING (doc_id))
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.h, b.h)) AS INTEGER) AS hamming
FROM __all a JOIN __all b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.h, b.h)) <= 3
""".strip()


_register("simhash_pairs", _q_simhash_pairs, _simhash_pairs_oracle())


# --------------------------------------------------------------------------
# round 1 expansion: deeper operator coverage with oracles
# --------------------------------------------------------------------------

_g("offset", "offset(events.error, 100)",
   "SELECT 'offset(events.error,100)' AS name, ts, round(value + 100, 6) AS value "
   "FROM dense",
   "name = 'events.error'")

_g("square_root", "squareRoot(events.view)",
   "SELECT 'squareRoot(events.view)' AS name, ts, "
   "round(CASE WHEN value >= 0 THEN sqrt(value) END, 6) AS value FROM dense",
   "name = 'events.view'")

_g("logarithm", "logarithm(events.click)",
   "SELECT 'logarithm(events.click)' AS name, ts, "
   "round(CASE WHEN value > 0 THEN log10(value) END, 6) AS value FROM dense",
   "name = 'events.click'")

_g("min_max", "minMax(events.purchase)",
   """
SELECT 'minMax(events.purchase)' AS name, ts,
       round(CASE WHEN value IS NULL THEN NULL
                  WHEN mx - mn != 0 THEN (value - mn) / (mx - mn)
                  ELSE 0 END, 6) AS value
FROM (SELECT name, ts, value,
             MIN(value) OVER (PARTITION BY name) AS mn,
             MAX(value) OVER (PARTITION BY name) AS mx
      FROM dense)
""".strip(),
   "name = 'events.purchase'")

_g("stddev_series", "stddevSeries(events.u*.view)",
   "SELECT 'stddevSeries(events.u*.view)' AS name, ts, "
   "round(stddev_pop(value), 6) AS value FROM dense GROUP BY ts",
   r"regexp_matches(name, '^events\.u[^.]*\.view$')")

_g("range_series", "rangeOfSeries(events.u*.click)",
   "SELECT 'rangeOfSeries(events.u*.click)' AS name, ts, "
   "round(MAX(value) - MIN(value), 6) AS value FROM dense GROUP BY ts",
   r"regexp_matches(name, '^events\.u[^.]*\.click$')")

_g("median_series", "medianSeries(events.u*.purchase)",
   "SELECT 'medianSeries(events.u*.purchase)' AS name, ts, "
   "round(quantile_cont(value, 0.5), 6) AS value FROM dense GROUP BY ts",
   r"regexp_matches(name, '^events\.u[^.]*\.purchase$')")

_g("last_series", "currentSeries(events.u*.error)",
   "SELECT 'currentSeries(events.u*.error)' AS name, ts, "
   "round(max_by(value, name) FILTER (value IS NOT NULL), 6) AS value "
   "FROM dense GROUP BY ts",
   r"regexp_matches(name, '^events\.u[^.]*\.error$')")

_g("summarize_align_from", "summarize(events.view, '1d', 'sum', true)",
   f"""
, bucket_spine AS (
  SELECT ts FROM generate_series({EVENTS_FROM}, {EVENTS_UNTIL} - 86400, 86400) g(ts)
), agg AS (
  SELECT ts - ((ts - {EVENTS_FROM}) % 86400) AS bts, SUM(value) AS v
  FROM dense GROUP BY 1
)
SELECT 'summarize(events.view,''1d'',''sum'',true)' AS name, b.ts,
       round(a.v, 6) AS value
FROM bucket_spine b LEFT JOIN agg a ON a.bts = b.ts
""".strip(),
   "name = 'events.view'")

_g("smart_summarize", "smartSummarize(events.click, '1d', 'max')",
   f"""
, bucket_spine AS (
  SELECT ts FROM generate_series({EVENTS_FROM}, {EVENTS_UNTIL} - 86400, 86400) g(ts)
), agg AS (
  SELECT ts - ((ts - {EVENTS_FROM}) % 86400) AS bts, MAX(value) AS v
  FROM dense GROUP BY 1
)
SELECT 'smartSummarize(events.click,''1d'',''max'')' AS name, b.ts,
       round(a.v, 6) AS value
FROM bucket_spine b LEFT JOIN agg a ON a.bts = b.ts
""".strip(),
   "name = 'events.click'")

_g("moving_max", "movingMax(events.view, 4)",
   f"SELECT 'movingMax(events.view,4)' AS name, ts, "
   f"round(MAX(value) OVER ({W_SERIES} ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) "
   f"AS value FROM dense",
   "name = 'events.view'")

_g("moving_median", "movingMedian(events.click, 5)",
   f"SELECT 'movingMedian(events.click,5)' AS name, ts, "
   f"round(quantile_cont(value, 0.5) OVER ({W_SERIES} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) "
   f"AS value FROM dense",
   "name = 'events.click'")

_g("pearson", "pearson(events.click, events.view, 24)",
   """
SELECT 'pearson(events.click,events.view,24)' AS name, a.ts,
       round(corr(a.value, b.value)
             OVER (ORDER BY a.ts ROWS BETWEEN 23 PRECEDING AND CURRENT ROW), 6)
           AS value
FROM (SELECT ts, value FROM dense WHERE name = 'events.click') a
JOIN (SELECT ts, value FROM dense WHERE name = 'events.view') b USING (ts)
""".strip(),
   "name IN ('events.click', 'events.view')")

_g("linear_regression", "linearRegression(events.purchase)",
   """
, fit AS (
  SELECT name, regr_slope(value, ts) AS m, regr_intercept(value, ts) AS b
  FROM dense GROUP BY name
)
SELECT 'linearRegression(events.purchase)' AS name, d.ts,
       round(f.m * d.ts + f.b, 6) AS value
FROM dense d JOIN fit f USING (name)
""".strip(),
   "name = 'events.purchase'")

_g("n_percentile", "nPercentile(events.click, 95)",
   """
, pct AS (
  SELECT name, arr[CAST(ceil((len(arr) - 1) * 0.95) AS INT) + 1] AS p
  FROM (SELECT name, list_sort(list(value) FILTER (value IS NOT NULL)) AS arr
        FROM dense GROUP BY name)
)
SELECT 'nPercentile(events.click,95)' AS name, d.ts, round(pct.p, 6) AS value
FROM dense d JOIN pct USING (name)
""".strip(),
   "name = 'events.click'")

_g("aggregate_line", "aggregateLine(events.view, 'avg')",
   """
, agg AS (SELECT name, AVG(value) AS a FROM dense GROUP BY name)
SELECT 'aggregateLine(events.view,''avg'')' AS name, d.ts, round(agg.a, 6) AS value
FROM dense d JOIN agg USING (name)
""".strip(),
   "name = 'events.view'")

_g("integral_by_interval", "integralByInterval(events.click, '1d')",
   """
SELECT 'integralByInterval(events.click,''1d'')' AS name, ts,
       round(SUM(COALESCE(value, 0)) OVER (
           PARTITION BY name, ts - ((ts - {f}) % 86400)
           ORDER BY ts ROWS UNBOUNDED PRECEDING), 6) AS value
FROM dense
""".strip().format(f=EVENTS_FROM),
   "name = 'events.click'")

# positional zip: i-th series of list A pairs with i-th of list B (stable
# glob-sorted order -> u0..u9 on both sides, so the pair key is the user)
_g("diff_series_lists", "diffSeriesLists(events.u*.view, events.u*.click)",
   """
, v AS (SELECT split_part(name, '.', 2) AS u, ts, value FROM dense
        WHERE split_part(name, '.', 3) = 'view'),
  c AS (SELECT split_part(name, '.', 2) AS u, ts, value FROM dense
        WHERE split_part(name, '.', 3) = 'click')
SELECT 'diffSeries(events.' || v.u || '.view,events.' || v.u || '.click)'
       AS name, v.ts,
       round(v.value - c.value, 6) AS value
FROM v JOIN c ON v.u = c.u AND v.ts = c.ts
""".strip(),
   r"regexp_matches(name, '^events\.u[^.]*\.(view|click)$')")

_g("as_percent_nodes", "asPercent(events.u*.*, None, 2)",
   """
SELECT 'asPercent(' || name || ',' || split_part(name, '.', 3) || ')' AS name, ts,
       round(CASE WHEN SUM(value) OVER (PARTITION BY split_part(name, '.', 3), ts) != 0
                  THEN value / SUM(value) OVER (PARTITION BY split_part(name, '.', 3), ts) * 100
             END, 6) AS value
FROM dense
""".strip(),
   r"regexp_matches(name, '^events\.u[^.]*\.[^.]*$')")

# grouped asPercent with an explicit total list that only covers u0/u1:
# u2..u9 numerator groups have no total -> name pads with MISSING and the
# values null out (driven by join-side nullness, NOT by the display name —
# asPercent/function.go:400-430)
_g("as_percent_missing", "asPercent(events.u*.click, events.{u0,u1}.view, 1)",
   """
, n AS (SELECT split_part(name, '.', 2) AS u, ts, value FROM dense
        WHERE split_part(name, '.', 3) = 'click'),
  t AS (SELECT split_part(name, '.', 2) AS u, ts, SUM(value) AS tot,
               MIN(name) AS tname
        FROM dense WHERE split_part(name, '.', 3) = 'view' GROUP BY 1, 2)
SELECT CASE WHEN t.u IS NULL
            THEN 'asPercent(events.' || n.u || '.click,MISSING)'
            ELSE 'asPercent(events.' || n.u || '.click,' || t.tname || ')'
       END AS name,
       n.ts,
       round(CASE WHEN t.tot != 0 THEN n.value / t.tot * 100 END, 6) AS value
FROM n LEFT JOIN t ON n.u = t.u AND n.ts = t.ts
""".strip(),
   r"regexp_matches(name, '^events\.u[^.]*\.click$') "
   r"OR name IN ('events.u0.view', 'events.u1.view')")

_g("weighted_average", "weightedAverage(events.u*.purchase, events.u*.view, 1)",
   """
, a AS (SELECT split_part(name, '.', 2) AS k, ts, value FROM dense
        WHERE regexp_matches(name, '^events\\.u[^.]*\\.purchase$')),
  w AS (SELECT split_part(name, '.', 2) AS k, ts, value FROM dense
        WHERE regexp_matches(name, '^events\\.u[^.]*\\.view$'))
SELECT 'weightedAverage(events.u*.purchase,events.u*.view,1)' AS name, a.ts,
       round(CASE WHEN SUM(CASE WHEN a.value IS NOT NULL THEN w.value END) != 0
                  THEN SUM(a.value * w.value)
                       / SUM(CASE WHEN a.value IS NOT NULL THEN w.value END)
             END, 6) AS value
FROM a JOIN w ON a.k = w.k AND a.ts = w.ts
GROUP BY a.ts
""".strip(),
   r"regexp_matches(name, '^events\.u[^.]*\.(purchase|view)$')")

_g("reduce_series",
   "reduceSeries(mapSeries(events.u*.*, 1), 'asPercent', 2, 'purchase', 'click')",
   """
, p AS (SELECT split_part(name, '.', 2) AS k, ts, value FROM dense
        WHERE split_part(name, '.', 3) = 'purchase'),
  c AS (SELECT split_part(name, '.', 2) AS k, ts, value FROM dense
        WHERE split_part(name, '.', 3) = 'click')
SELECT 'events.' || p.k || '.reduce.asPercent' AS name, p.ts,
       round(CASE WHEN c.value != 0 THEN p.value / c.value * 100 END, 6) AS value
FROM p JOIN c ON p.k = c.k AND p.ts = c.ts
""".strip(),
   r"regexp_matches(name, '^events\.u[^.]*\.[^.]*$')")

_g("join_and", "join(events.u*.click, events.u0.click, 'AND')",
   "SELECT name, ts, round(value, 6) AS value FROM dense "
   "WHERE name = 'events.u0.click'",
   r"regexp_matches(name, '^events\.u[^.]*\.click$')")

_g("join_sub", "join(events.u*.error, events.u0.error, 'SUB')",
   "SELECT name, ts, round(value, 6) AS value FROM dense "
   "WHERE name != 'events.u0.error'",
   r"regexp_matches(name, '^events\.u[^.]*\.error$')")

_g("unique_group", "unique(group(events.click, events.click, events.view))",
   "SELECT name, ts, round(value, 6) AS value FROM dense",
   "name IN ('events.click', 'events.view')")

_g("most_deviant", "mostDeviant(events.u*.view, 3)",
   """
, sel AS (SELECT name FROM dense GROUP BY name
          ORDER BY var_pop(value) DESC NULLS LAST, name LIMIT 3)
SELECT d.name, d.ts, round(d.value, 6) AS value FROM dense d JOIN sel USING (name)
""".strip(),
   r"regexp_matches(name, '^events\.u[^.]*\.view$')")

_g("tukey_above", "tukeyAbove(events.u*.click, 'average', 0.2)",
   """
, per AS (SELECT name, AVG(value) AS a FROM dense GROUP BY name),
  q AS (SELECT quantile_cont(a, 0.25) AS q1, quantile_cont(a, 0.75) AS q3 FROM per),
  sel AS (SELECT name FROM per, q WHERE a >= q3 + 0.2 * (q3 - q1))
SELECT d.name, d.ts, round(d.value, 6) AS value FROM dense d JOIN sel USING (name)
""".strip(),
   r"regexp_matches(name, '^events\.u[^.]*\.click$')")

# timeStack: each copy fetches a displaced window, so the oracle's dense CTE
# spans the full data range while only the OUTPUT is clipped to the request.
_register(
    "time_stack",
    graphite_query("timeStack(events.click, '1d', 0, 3)",
                   EVENTS_FROM + 2 * 86400, EVENTS_UNTIL),
    f"""WITH {oracle_prefix("name = 'events.click'", EVENTS_FROM, EVENTS_UNTIL)}
SELECT 'timeShift(events.click,1d,' || i || ')' AS name,
       ts + i * 86400 AS ts, round(value, 6) AS value
FROM dense, (SELECT unnest([0, 1, 2]) AS i) shifts
WHERE ts + i * 86400 >= {EVENTS_FROM + 2 * 86400}
  AND ts + i * 86400 < {EVENTS_UNTIL}""")

_g("slo_1d", "slo(events.click, '1d', 'above', 20)",
   f"""
, bucket_spine AS (
  SELECT ts FROM generate_series({EVENTS_FROM}, {EVENTS_UNTIL} - 86400, 86400) g(ts)
), agg AS (
  SELECT ts - ((ts - {EVENTS_FROM}) % 86400) AS bts,
         CASE WHEN COUNT(value) > 0
              THEN CAST(COUNT(CASE WHEN value > 20 THEN 1 END) AS DOUBLE) / COUNT(value)
         END AS v
  FROM dense GROUP BY 1
)
SELECT 'slo(events.click, 1d, above, 20)' AS name, b.ts, round(a.v, 6) AS value
FROM bucket_spine b LEFT JOIN agg a ON a.bts = b.ts
""".strip(),
   "name = 'events.click'")

# ewma HAS a closed form: y_k over the non-NaN prefix x_1..x_k is
# (1-a)^(k-1) x_1 + a * sum_j (1-a)^(k-j) x_j  (j>=2) — the recursive pandas
# kernel and this quadratic SQL window agree to double precision. NaN points
# pass through as NULL without advancing state (ewma/function.go:50-60).
_g("ewma_alpha", "ewma(events.click, 0.3)",
   """
, idx AS (SELECT name, ts, value,
                 row_number() OVER (PARTITION BY name ORDER BY ts) AS k
          FROM dense WHERE value IS NOT NULL)
SELECT 'ewma(' || a.name || ',0.3)' AS name, a.ts,
       round(SUM((CASE WHEN b.k = 1 THEN power(0.7, a.k - 1)
                       ELSE 0.3 * power(0.7, a.k - b.k) END) * b.value), 6)
       AS value
FROM idx a JOIN idx b ON a.name = b.name AND b.k <= a.k
GROUP BY a.name, a.ts
UNION ALL
SELECT 'ewma(' || name || ',0.3)' AS name, ts, NULL AS value
FROM dense WHERE value IS NULL
""".strip(),
   "name = 'events.click'")

# exponentialMovingAverage closed form (c = 2/(windowSize+1) — for string
# windows windowSize is SECONDS (function.go:84-99), so c = 2/43201 here —
# seeded with the mean of
# the first window, output at T gated by x(T-step), state skipping NaN):
# y(T) = (1-c)^m * seed + c * sum_i (1-c)^(m-i) x_i over the m non-NaN
# points in [f, T). Matches kernels.ema_series to double precision.
_EMA_F = EVENTS_FROM + 43200
_register("ema", graphite_query("exponentialMovingAverage(events.click, '12h')",
                                _EMA_F, EVENTS_UNTIL),
          f"""WITH {oracle_prefix("name = 'events.click'", EVENTS_FROM, EVENTS_UNTIL)}
, seed AS (SELECT name, avg(value) AS s FROM dense
           WHERE ts < {_EMA_F} GROUP BY name)
, idx AS (SELECT name, ts, value,
                 row_number() OVER (PARTITION BY name ORDER BY ts) AS k
          FROM dense WHERE ts >= {_EMA_F} AND value IS NOT NULL)
, gates AS (SELECT name, ts + 3600 AS ts, value AS gate
            FROM dense WHERE ts >= {_EMA_F})
, m AS (SELECT g.name, g.ts, g.gate, count(i.ts) AS m
        FROM gates g LEFT JOIN idx i ON i.name = g.name AND i.ts < g.ts
        GROUP BY g.name, g.ts, g.gate)
, contrib AS (SELECT m.name, m.ts, m.gate, m.m,
                     sum((2.0/43201.0) * power(43199.0/43201.0, m.m - i.k) * i.value)
                     AS body
              FROM m LEFT JOIN idx i ON i.name = m.name AND i.ts < m.ts
              GROUP BY m.name, m.ts, m.gate, m.m)
SELECT 'exponentialMovingAverage(' || c.name || ',"12h")' AS name, c.ts,
       CASE WHEN c.gate IS NOT NULL THEN
            round(power(43199.0/43201.0, c.m) * s.s + coalesce(c.body, 0), 6)
       END AS value
FROM contrib c JOIN seed s USING (name)
UNION ALL
SELECT 'exponentialMovingAverage(' || name || ',"12h")' AS name,
       {_EMA_F} AS ts, round(s, 6) AS value
FROM seed""")
def _hw_recursion_sql() -> str:
    """DuckDB WITH-RECURSIVE replay of the reference Holt-Winters triple
    smoothing (kernels.hw_analysis; expr/holtwinters/hw.go:36-127): state
    row i carries intercept/slope/next_pred scalars plus the full
    seasonal/deviation histories as lists (the recurrence needs the values
    from season_len steps back). NaN actuals follow the kernel exactly:
    intercept→NULL, slope/seasonal/dev→0, prediction carries the stale
    next_pred. Identical double arithmetic order → bit-near-exact parity."""
    n = (EVENTS_UNTIL - EVENTS_FROM) // EVENTS_STEP
    season = 86400 // EVENTS_STEP
    a, b, g = 0.1, 0.0035, 0.1
    actual = "v.vals[p.i + 2]"
    last_intercept = f"coalesce(p.intercept, {actual})"
    last_seasonal = (f"CASE WHEN p.i + 1 - {season} >= 0 "
                     f"THEN p.seasonals[p.i + 2 - {season}] ELSE 0.0 END")
    next_last_seasonal = (f"CASE WHEN p.i + 2 - {season} >= 0 "
                          f"THEN p.seasonals[p.i + 3 - {season}] ELSE 0.0 END")
    last_dev = (f"CASE WHEN p.i + 1 - {season} >= 0 "
                f"THEN p.devs[p.i + 2 - {season}] ELSE 0.0 END")
    intercept = (f"({a} * (({actual}) - ({last_seasonal}))"
                 f" + {1 - a} * (({last_intercept}) + p.slope))")
    slope = (f"({b} * (({intercept}) - ({last_intercept}))"
             f" + {1 - b} * p.slope)")
    seasonal = (f"({g} * (({actual}) - ({intercept}))"
                f" + {1 - g} * ({last_seasonal}))")
    dev = (f"({g} * abs(({actual}) - coalesce(p.next_pred, 0.0))"
           f" + {1 - g} * ({last_dev}))")
    next_pred = f"(({intercept}) + ({slope}) + ({next_last_seasonal}))"
    isnull = f"{actual} IS NULL"
    return f"""
__v AS (SELECT list(value ORDER BY ts) AS vals FROM dense),
__hw AS (
  SELECT 0 AS i, vals[1] AS intercept, CAST(0.0 AS DOUBLE) AS slope,
         vals[1] AS pred, CAST(0.0 AS DOUBLE) AS dev, vals[1] AS next_pred,
         [CAST(0.0 AS DOUBLE)] AS seasonals,
         [CAST(0.0 AS DOUBLE)] AS devs
  FROM __v
  UNION ALL
  SELECT p.i + 1 AS i,
         CASE WHEN {isnull} THEN NULL ELSE {intercept} END AS intercept,
         CASE WHEN {isnull} THEN 0.0 ELSE {slope} END AS slope,
         p.next_pred AS pred,
         CASE WHEN {isnull} THEN 0.0 ELSE {dev} END AS dev,
         CASE WHEN {isnull} THEN NULL ELSE {next_pred} END AS next_pred,
         list_append(p.seasonals,
                     CASE WHEN {isnull} THEN 0.0 ELSE {seasonal} END)
           AS seasonals,
         list_append(p.devs,
                     CASE WHEN {isnull} THEN 0.0 ELSE {dev} END) AS devs
  FROM __hw p, __v v
  WHERE p.i < {n - 1}
)
""".strip()


_HW_WP = 7 * 86400 // EVENTS_STEP  # bootstrap points discarded from output

_register("holt_winters",
          graphite_query("holtWintersForecast(events.click, '7d', '1d')",
                         EVENTS_FROM + 7 * 86400, EVENTS_UNTIL),
          f"""
WITH RECURSIVE {oracle_prefix("name = 'events.click'", EVENTS_FROM, EVENTS_UNTIL)},
{_hw_recursion_sql()}
SELECT 'holtWintersForecast(events.click)' AS name,
       {EVENTS_FROM} + i * {EVENTS_STEP} AS ts,
       round(pred, 6) AS value
FROM __hw WHERE i >= {_HW_WP}
""".strip())
# rolling two-sample KS D = max over thresholds t of |F1(t) - F2(t)| with
# fixed-length windows (NaN entries count in the denominator but match no
# threshold) — quadratic threshold-count formulation of kernels._ks_stat
_register("ks_test",
          graphite_query("kolmogorovSmirnovTest2(events.click, events.view, 24)"),
          f"""WITH {oracle_prefix("name IN ('events.click', 'events.view')", EVENTS_FROM, EVENTS_UNTIL)}
, g AS (SELECT ts, row_number() OVER (ORDER BY ts) - 1 AS i
        FROM (SELECT DISTINCT ts FROM dense))
, s1 AS (SELECT g.i, d.value FROM dense d JOIN g USING (ts)
         WHERE d.name = 'events.click')
, s2 AS (SELECT g.i, d.value FROM dense d JOIN g USING (ts)
         WHERE d.name = 'events.view')
, win AS (SELECT o.i AS oi, w.i AS wi FROM g o
          JOIN g w ON w.i BETWEEN o.i - 24 AND o.i - 1 WHERE o.i >= 24)
, w1 AS (SELECT win.oi, s1.value FROM win JOIN s1 ON s1.i = win.wi)
, w2 AS (SELECT win.oi, s2.value FROM win JOIN s2 ON s2.i = win.wi)
, th AS (SELECT DISTINCT oi, value AS t
         FROM (SELECT * FROM w1 UNION ALL SELECT * FROM w2)
         WHERE value IS NOT NULL)
, c1 AS (SELECT th.oi, th.t,
                count(*) FILTER (WHERE w1.value <= th.t) AS c
         FROM th JOIN w1 USING (oi) GROUP BY th.oi, th.t)
, c2 AS (SELECT th.oi, th.t,
                count(*) FILTER (WHERE w2.value <= th.t) AS c
         FROM th JOIN w2 USING (oi) GROUP BY th.oi, th.t)
, dmax AS (SELECT c1.oi, max(abs(c1.c / 24.0 - c2.c / 24.0)) AS d
           FROM c1 JOIN c2 ON c1.oi = c2.oi AND c1.t = c2.t GROUP BY c1.oi)
SELECT 'kolmogorovSmirnovTest2(events.click,events.view,24)' AS name, g.ts,
       CASE WHEN g.i >= 24 THEN round(coalesce(dmax.d, 0), 6) END AS value
FROM g LEFT JOIN dmax ON dmax.oi = g.i""")


# --------------------------------------------------------------------------
# seriesByTag over a tagged projection (separate lake: plain-name globs must
# not see tagged series, mirroring graphite's tagged-fetch isolation)
# --------------------------------------------------------------------------

def _tagged_lake(spark, sf_dir):
    """Shared tagged projection of raw events (persisted per session):
    name = events.value;type=<t>;user=u<user_id%10>, hourly sum buckets.
    Grouping is on narrow raw columns; the tagged name string is
    synthesized after the aggregation (40 rows/bucket, not per input row)."""
    from carbonapi_spark.sources.lake import SeriesLake
    key = (id(spark), sf_dir, "tagged")
    if key in _LAKE_CACHE:
        return _LAKE_CACHE[key]
    from carbonapi_spark.sources.testdata import epoch_seconds, read_events
    ev = read_events(spark, sf_dir)
    sec = epoch_seconds(ev)
    tagged = (ev.groupBy(
        F.col("event_type"), (F.col("user_id") % 10).alias("u"),
        (sec - sec % F.lit(EVENTS_STEP)).alias("ts"))
        .agg(F.sum("value").alias("value"))
        .select(F.concat(F.lit("events.value;type="), F.col("event_type"),
                         F.lit(";user=u"), F.col("u").cast("string")).alias("name"),
                "ts", "value"))
    lake = SeriesLake(tagged.persist(), EVENTS_STEP)
    _LAKE_CACHE[key] = lake
    return lake


def _q_series_by_tag(spark, sf_dir):
    ctx = EvalContext(spark, _tagged_lake(spark, sf_dir), EVENTS_FROM, EVENTS_UNTIL)
    return _wire_rows(eval_target(
        ctx, "seriesByTag('name=events.value', 'type=click', 'user=~u[0-4]')"))


_register("series_by_tag", _q_series_by_tag, f"""
WITH ev AS (
  SELECT 'events.value;type=' || event_type || ';user=u' || CAST(user_id % 10 AS VARCHAR) AS name,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ts,
         SUM(value) AS value
  FROM events GROUP BY 1, 2
),
spine AS (SELECT ts FROM generate_series({EVENTS_FROM}, {EVENTS_UNTIL} - {EVENTS_STEP}, {EVENTS_STEP}) g(ts)),
names AS (SELECT DISTINCT name FROM ev
          WHERE regexp_matches(name, 'type=click')
            AND regexp_matches(name, 'user=u[0-4]$')),
dense AS (
  SELECT n.name, s.ts, e.value
  FROM names n CROSS JOIN spine s
  LEFT JOIN ev e ON e.name = n.name AND e.ts = s.ts
)
SELECT name, ts, round(value, 6) AS value FROM dense
""".strip())


# --------------------------------------------------------------------------
# round 1, batch 3: remaining oracle-checkable operators
# --------------------------------------------------------------------------

_g("per_second", "perSecond(events.click)",
   f"SELECT 'perSecond(events.click)' AS name, ts, "
   f"round(CASE WHEN value - lag(value) OVER ({W_SERIES}) >= 0 "
   f"THEN (value - lag(value) OVER ({W_SERIES})) / 3600 END, 6) AS value FROM dense",
   "name = 'events.click'")

_g("delay", "delay(events.view, 2)",
   f"SELECT 'delay(events.view,2)' AS name, ts, "
   f"round(lag(value, 2) OVER ({W_SERIES}), 6) AS value FROM dense",
   "name = 'events.view'")

_g("changed", "changed(events.error)",
   f"""
SELECT 'changed(events.error)' AS name, ts,
       round(CASE WHEN prev IS NULL AND value IS NULL THEN 0
                  WHEN prev IS NULL OR value IS NULL THEN 1
                  WHEN prev != value THEN 1 ELSE 0 END, 6) AS value
FROM (SELECT name, ts, value, lag(value) OVER ({W_SERIES}) AS prev FROM dense)
""".strip(),
   "name = 'events.error'")

_g("is_non_null", "isNonNull(events.error)",
   "SELECT 'isNonNull(events.error)' AS name, ts, "
   "CAST(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END AS DOUBLE) "
   "AS value FROM dense",
   "name = 'events.error'")

_g("scale_to_seconds", "scaleToSeconds(events.click, 60)",
   "SELECT 'scaleToSeconds(events.click,60)' AS name, ts, "
   "round(value * 60.0 / 3600, 6) AS value FROM dense",
   "name = 'events.click'")

_g("sigmoid", "sigmoid(events.purchase)",
   "SELECT 'sigmoid(events.purchase)' AS name, ts, "
   "round(1.0 / (1.0 + exp(-value)), 6) AS value FROM dense",
   "name = 'events.purchase'")

_g("pow_transform", "pow(events.view, 2)",
   "SELECT 'pow(events.view,2)' AS name, ts, round(pow(value, 2), 6) AS value "
   "FROM dense",
   "name = 'events.view'")

_g("substr_name", "substr(events.u*.click, 1, 2)",
   "SELECT split_part(name, '.', 2) AS name, ts, round(value, 6) AS value FROM dense",
   r"regexp_matches(name, '^events\.u[^.]*\.click$')")

_g("to_upper", "toUpperCase(events.signup)",
   "SELECT upper(name) AS name, ts, round(value, 6) AS value FROM dense",
   "name = 'events.signup'")

_g("alias_literal", "alias(events.click, 'clicks per hour')",
   "SELECT 'clicks per hour' AS name, ts, round(value, 6) AS value FROM dense",
   "name = 'events.click'")

_g("alias_by_metric", "aliasByMetric(events.u*.purchase)",
   "SELECT split_part(name, '.', 3) AS name, ts, round(value, 6) AS value FROM dense",
   r"regexp_matches(name, '^events\.u[^.]*\.purchase$')")

_g("remove_below_percentile", "removeBelowPercentile(events.click, 50)",
   """
, pct AS (
  SELECT name, arr[CAST(ceil((len(arr) - 1) * 0.5) AS INT) + 1] AS thr
  FROM (SELECT name, list_sort(list(value) FILTER (value IS NOT NULL)) AS arr
        FROM dense GROUP BY name)
)
SELECT 'removeBelowPercentile(events.click,50)' AS name, d.ts,
       round(CASE WHEN d.value >= pct.thr THEN d.value END, 6) AS value
FROM dense d JOIN pct USING (name)
""".strip(),
   "name = 'events.click'")

_g("average_outside_percentile", "averageOutsidePercentile(events.u*.view, 80)",
   """
, per AS (SELECT name, AVG(value) AS a FROM dense GROUP BY name),
  bounds AS (SELECT quantile_cont(a, 0.2) AS lo, quantile_cont(a, 0.8) AS hi FROM per),
  sel AS (SELECT name FROM per, bounds WHERE a < lo OR a > hi)
SELECT d.name, d.ts, round(d.value, 6) AS value FROM dense d JOIN sel USING (name)
""".strip(),
   r"regexp_matches(name, '^events\.u[^.]*\.view$')")

_g("filter_series", "filterSeries(events.u*.purchase, 'sum', '>', 3000)",
   """
, sel AS (SELECT name FROM dense GROUP BY name HAVING SUM(value) > 3000)
SELECT d.name, d.ts, round(d.value, 6) AS value FROM dense d JOIN sel USING (name)
""".strip(),
   r"regexp_matches(name, '^events\.u[^.]*\.purchase$')")

_g("sort_by_name_rev", "limit(sortByName(events.u*.signup, false, true), 3)",
   """
, sel AS (SELECT DISTINCT name FROM dense ORDER BY name DESC LIMIT 3)
SELECT d.name, d.ts, round(d.value, 6) AS value FROM dense d JOIN sel USING (name)
""".strip(),
   r"regexp_matches(name, '^events\.u[^.]*\.signup$')")

_g("interpolate_all", "interpolate(events.error)",
   f"""
SELECT 'interpolate(events.error)' AS name, ts,
       round(CASE WHEN value IS NOT NULL THEN value
                  WHEN pts IS NOT NULL AND nts IS NOT NULL THEN
                       pv + (nv - pv) * (ts - pts) / (nts - pts)
             END, 6) AS value
FROM (
  SELECT name, ts, value,
         max(CASE WHEN value IS NOT NULL THEN ts END)
             OVER ({W_SERIES} ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pts,
         min(CASE WHEN value IS NOT NULL THEN ts END)
             OVER ({W_SERIES} ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nts
  FROM dense) g
LEFT JOIN (SELECT name AS n2, ts AS t2, value AS pv FROM dense) p
       ON p.n2 = g.name AND p.t2 = g.pts
LEFT JOIN (SELECT name AS n3, ts AS t3, value AS nv FROM dense) q
       ON q.n3 = g.name AND q.t3 = g.nts
""".strip(),
   "name = 'events.error'")

_g("group_union", "group(events.click, events.view)",
   "SELECT name, ts, round(value, 6) AS value FROM dense",
   "name IN ('events.click', 'events.view')")

_g("remove_zero_series", "removeZeroSeries(events.u*.error)",
   """
, sel AS (SELECT name FROM dense GROUP BY name
          HAVING COUNT(CASE WHEN value != 0 THEN 1 END) > 0)
SELECT d.name, d.ts, round(d.value, 6) AS value FROM dense d JOIN sel USING (name)
""".strip(),
   r"regexp_matches(name, '^events\.u[^.]*\.error$')")

_g("count_values", "countValues(isNonNull(events.u*.signup))",
   """
, counts AS (
  SELECT 'value_' || CAST(CAST(floor(present) AS BIGINT) AS VARCHAR) AS name,
         ts, CAST(COUNT(*) AS DOUBLE) AS value
  FROM (SELECT ts, CASE WHEN value IS NOT NULL THEN 1.0 ELSE 0.0 END AS present
        FROM dense)
  GROUP BY floor(present), ts
)
SELECT b.name, s.ts, round(c.value, 6) AS value
FROM (VALUES ('value_0'), ('value_1')) b(name) CROSS JOIN spine s
LEFT JOIN counts c ON c.name = b.name AND c.ts = s.ts
""".strip(),
   r"regexp_matches(name, '^events\.u[^.]*\.signup$')")


# --------------------------------------------------------------------------
# round 1, batch 4: lang-id argmax, polyfit, tagged groupBy, rows-only extras
# --------------------------------------------------------------------------

def _q_lang_id(spark, sf_dir):
    """argmax language over the marker scores (tie-break: en,de,fr,es)."""
    from carbonapi_spark.datapipe.text import lang_scores
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = lang_scores(docs)
    en, de, fr, es = (F.col(f"score_{l}") for l in ("en", "de", "fr", "es"))
    lang = (F.when((en >= de) & (en >= fr) & (en >= es), "en")
            .when((de >= fr) & (de >= es), "de")
            .when(fr >= es, "fr").otherwise("es"))
    return s.select("doc_id", lang.alias("pred_lang"))


_register("lang_id", _q_lang_id, r"""
SELECT doc_id,
       CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
            WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
            WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang
FROM (SELECT doc_id,
             len(list_intersect(ws, ['the','and','of','to','in'])) AS s_en,
             len(list_intersect(ws, ['der','die','und','das','ist'])) AS s_de,
             len(list_intersect(ws, ['le','la','les','et','est'])) AS s_fr,
             len(list_intersect(ws, ['el','los','las','es','una'])) AS s_es
      FROM (SELECT doc_id,
                   list_distinct(list_filter(string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'),
                                             x -> x != '')) AS ws
            FROM documents))
""".strip())

_g("polyfit_linear", "polyfit(events.view)",
   f"""
, fit AS (
  SELECT name, regr_slope(value, (ts - {EVENTS_FROM}) / 3600) AS m,
         regr_intercept(value, (ts - {EVENTS_FROM}) / 3600) AS b
  FROM dense GROUP BY name
)
SELECT 'polyfit(events.view)' AS name, d.ts,
       round(f.m * ((d.ts - {EVENTS_FROM}) / 3600) + f.b, 6) AS value
FROM dense d JOIN fit f USING (name)
""".strip(),
   "name = 'events.view'")


def _q_group_by_tags(spark, sf_dir):
    ctx = EvalContext(spark, _tagged_lake(spark, sf_dir), EVENTS_FROM, EVENTS_UNTIL)
    return _wire_rows(eval_target(
        ctx, "groupByTags(seriesByTag('name=events.value'), 'sum', 'type')"))


_register("group_by_tags", _q_group_by_tags, f"""
WITH ev AS (
  SELECT 'events.value;type=' || event_type AS name,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS ts,
         SUM(value) AS value
  FROM events GROUP BY 1, 2
),
spine AS (SELECT ts FROM generate_series({EVENTS_FROM}, {EVENTS_UNTIL} - {EVENTS_STEP}, {EVENTS_STEP}) g(ts)),
names AS (SELECT DISTINCT name FROM ev)
SELECT n.name, s.ts, round(e.value, 6) AS value
FROM names n CROSS JOIN spine s
LEFT JOIN ev e ON e.name = n.name AND e.ts = s.ts
""".strip())

_register("hw_bands",
          graphite_query("holtWintersConfidenceBands(events.click, 3, '7d', '1d')",
                         EVENTS_FROM + 7 * 86400, EVENTS_UNTIL),
          f"""
WITH RECURSIVE {oracle_prefix("name = 'events.click'", EVENTS_FROM, EVENTS_UNTIL)},
{_hw_recursion_sql()},
__out AS (SELECT i, pred, dev FROM __hw WHERE i >= {_HW_WP})
SELECT 'holtWintersConfidenceLower(events.click)' AS name,
       {EVENTS_FROM} + i * {EVENTS_STEP} AS ts,
       round(pred - 3 * dev, 6) AS value FROM __out
UNION ALL
SELECT 'holtWintersConfidenceUpper(events.click)' AS name,
       {EVENTS_FROM} + i * {EVENTS_STEP} AS ts,
       round(pred + 3 * dev, 6) AS value FROM __out
""".strip())


def _low_pass_oracle() -> str:
    """lowPass = ifft(truncated fft) == circular convolution with the
    kept-frequency Dirichlet-style kernel g(d) = sum_{{k in K}} cos(2*pi*
    k*d/n): out[t] = (1/n) * sum_s fill0(x[s]) * g((t-s) mod n), NULLs
    re-masked afterwards — exactly numpy's mask semantics in
    functions/stats.py lowPass."""
    n = (EVENTS_UNTIL - EVENTS_FROM) // EVENTS_STEP
    keep = int(n * 40 / 100 / 2)
    return f"""
WITH {oracle_prefix("name = 'events.click'", EVENTS_FROM, EVENTS_UNTIL)},
__idx AS (SELECT ts, row_number() OVER (ORDER BY ts) - 1 AS i, value FROM dense),
__k AS (SELECT unnest(list_concat(range(0, {keep + 1}),
                                  range({n - keep}, {n}))) AS k),
__ker AS (SELECT d.d, SUM(cos(2 * pi() * k.k * d.d / {n}.0)) AS g
          FROM (SELECT unnest(range({n})) AS d) d CROSS JOIN __k k
          GROUP BY d.d),
__conv AS (SELECT t.i, t.ts, t.value AS orig,
                  SUM(coalesce(s.value, 0.0) * kr.g) / {n}.0 AS v
           FROM __idx t
           JOIN __idx s ON TRUE
           JOIN __ker kr ON kr.d = (t.i - s.i + {n}) % {n}
           GROUP BY t.i, t.ts, t.value)
SELECT 'lowPass(events.click,40)' AS name, ts,
       round(CASE WHEN orig IS NULL THEN NULL ELSE v END, 6) AS value
FROM __conv
""".strip()


_register("low_pass", graphite_query("lowPass(events.click, 40)"),
          _low_pass_oracle())
_register("fingerprints", lambda spark, sf_dir: (
    spark.read.parquet(f"{sf_dir}/documents.parquet")
    .select("doc_id", __import__("carbonapi_spark.datapipe.text", fromlist=["fingerprint"])
            .fingerprint(F.col("text")).alias("fp"))),
    # the rolling hash is SQL-portable by design: same fold, no engine hash()
    r"""
SELECT doc_id,
  CASE WHEN len(toks) = 0 THEN 0 ELSE
    list_reduce(
      list_transform(toks, t ->
        CASE WHEN len(regexp_split_to_array(t, '')) = 0 THEN 0 ELSE
          list_reduce(
            list_transform(regexp_split_to_array(t, ''), c -> CAST(ord(c) AS BIGINT)),
            (a, x) -> (a * 31 + x) % 2147483647)
        END),
      (a, h) -> (a * 131 + h) % 2147483647)
  END AS fp
FROM (SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0B\f\r]+'), t -> t <> '')
             AS toks
      FROM documents)
""".strip())


def _q_lsh_topk(spark, sf_dir):
    from carbonapi_spark.datapipe.similarity import lsh_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return lsh_topk(emb, emb.where(F.col("vec_id") < 5), k=10, dim=64, n_planes=6)


def _lsh_topk_oracle() -> str:
    """The hyperplanes are deterministic (seed 42), so the 'approximate'
    bucketing is exactly reproducible in SQL: interpolate the same planes
    as literals and redo sign-signature + bucket join + top-k. Sign margins
    are safe (min |dot| over sf0.01 corpus x planes ~ 6e-4 >> double eps)."""
    from carbonapi_spark.datapipe.similarity import random_planes
    planes = random_planes(64, 6, 42)
    lits = ["[" + ",".join(repr(x) for x in p) + "]" for p in planes]
    sig = " || ".join(
        f"(CASE WHEN list_dot_product(v, {lit}) > 0 THEN '1' ELSE '0' END)"
        for lit in lits)
    return f"""
WITH sigs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sigd AS (SELECT vec_id, v, {sig} AS sig FROM sigs),
q0 AS (SELECT vec_id AS query_id, v AS qv, sig FROM sigd WHERE vec_id < 5),
q AS (SELECT query_id, qv,
             unnest(list_distinct(list_concat([sig],
                 list_transform(range(1, 7),
                     i -> substr(sig, 1, i - 1)
                          || (CASE WHEN substr(sig, i, 1) = '1'
                                   THEN '0' ELSE '1' END)
                          || substr(sig, i + 1))))) AS sig
      FROM q0),
c AS (SELECT vec_id AS neighbor_id, v AS cv, sig FROM sigd),
sims AS (SELECT q.query_id, c.neighbor_id,
                round(CASE WHEN sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(cv, cv)) > 0
                           THEN list_dot_product(qv, cv)
                                / (sqrt(list_dot_product(qv, qv))
                                   * sqrt(list_dot_product(cv, cv))) END, 6)
                AS cos_sim
         FROM c JOIN q USING (sig) WHERE neighbor_id != query_id)
SELECT query_id, neighbor_id, cos_sim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM sims)
WHERE rk <= 10
""".strip()


_register("lsh_topk", _q_lsh_topk, _lsh_topk_oracle())


def _q_sq8_topk(spark, sf_dir):
    """8-bit scalar quantization ANN (FAISS SQ8): per-dim linear codes
    over trained (min, max) ranges, asymmetric cosine against the
    dequantized corpus.  The oracle re-derives the ranges, codes and
    dequantization with the identical literal op order, so the whole
    train+encode+search chain replays exactly."""
    from carbonapi_spark.datapipe.similarity import sq8_ranges, sq8_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ranges = sq8_ranges(emb, dim=64)
    return sq8_topk(emb, emb.where(F.col("vec_id") < 5), ranges, k=10)


_SQ8_FOLD = ("list_reduce(list_prepend(0.0, {}), (a, x) -> a + x)")

_register("sq8_topk", _q_sq8_topk, f"""
WITH __x AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
__r AS (SELECT j, min(v[j]) AS mn, max(v[j]) AS mx
        FROM __x, range(1, 65) t(j) GROUP BY j),
__rl AS MATERIALIZED (
  SELECT list(mn ORDER BY j) AS mns, list(mx ORDER BY j) AS mxs
  FROM __r),
__dq AS MATERIALIZED (
  SELECT x.vec_id,
         list_transform(range(1, 65), j ->
           CASE WHEN r.mxs[j] <= r.mns[j] THEN r.mns[j]
                ELSE r.mns[j]
                     + least(greatest(round((x.v[j] - r.mns[j]) * 255.0
                                            / (r.mxs[j] - r.mns[j]), 0),
                                      0), 255)
                       * (r.mxs[j] - r.mns[j]) / 255.0
           END) AS dq
  FROM __x x, __rl r),
__q AS (SELECT vec_id AS query_id, v AS qv FROM __x WHERE vec_id < 5),
__s AS (
  SELECT q.query_id, d.vec_id AS neighbor_id,
         round({_SQ8_FOLD.format(
             "list_transform(range(1, 65), j -> q.qv[j] * d.dq[j])")}
               / (sqrt({_SQ8_FOLD.format(
                   "list_transform(q.qv, x -> x * x)")})
                  * sqrt({_SQ8_FOLD.format(
                      "list_transform(d.dq, x -> x * x)")})), 6)
             AS adc_sim
  FROM __dq d, __q q WHERE d.vec_id != q.query_id)
SELECT query_id, neighbor_id, adc_sim FROM __s
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY adc_sim DESC, neighbor_id) <= 10
""".strip())


def _q_ivf_topk(spark, sf_dir):
    from carbonapi_spark.datapipe.similarity import ivf_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_topk(emb, emb.where(F.col("vec_id") < 5), k=10, dim=64,
                    n_centroids=8, nprobe=3)


def _ivf_topk_oracle() -> str:
    """The spherical-IVF centroids are deterministic (seed 43), so cell
    assignment replays exactly in SQL. Margin safety on sf0.01: min
    top1-top2 corpus argmax gap 1.46e-5, min adjacent query-dot gap
    1.55e-4 — both >> double rounding, so Spark and DuckDB agree on every
    cell and probe rank."""
    from carbonapi_spark.datapipe.similarity import ivf_centroids
    cents = ivf_centroids(64, 8, 43)
    lits = "[" + ",".join(
        "[" + ",".join(repr(x) for x in c) + "]" for c in cents) + "]"
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                  list_transform({lits},
                      c -> list_dot_product(CAST(embedding AS DOUBLE[]), c)) AS ds
           FROM embeddings),
c AS (SELECT vec_id AS neighbor_id, v AS cv,
             list_indexof(ds, list_aggregate(ds, 'max')) AS cell FROM v),
qd AS (SELECT vec_id AS query_id, v AS qv,
              unnest(ds) AS d, unnest(range(1, 9)) AS pos
       FROM v WHERE vec_id < 5),
q AS (SELECT query_id, qv, pos AS cell FROM qd
      QUALIFY row_number() OVER (PARTITION BY query_id
                                 ORDER BY d DESC, pos) <= 3),
sims AS (SELECT q.query_id, c.neighbor_id,
                round(CASE WHEN sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(cv, cv)) > 0
                           THEN list_dot_product(qv, cv)
                                / (sqrt(list_dot_product(qv, qv))
                                   * sqrt(list_dot_product(cv, cv))) END, 6)
                AS cos_sim
         FROM c JOIN q USING (cell) WHERE neighbor_id != query_id)
SELECT query_id, neighbor_id, cos_sim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM sims)
WHERE rk <= 10
""".strip()


_register("ivf_topk", _q_ivf_topk, _ivf_topk_oracle())


def _q_pq_adc_topk(spark, sf_dir):
    """Product-quantization ADC top-k: the compressed-domain ANN path
    (corpus reduced to 8 codebook indices per vector, distance = 8 table
    lookups). Seeded codebooks (similarity.pq_codebooks) so the oracle
    replays encode + ADC exactly; production uses pq_train."""
    from carbonapi_spark.datapipe.similarity import pq_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_topk(emb, emb.where(F.col("vec_id") < 5), k=10, dim=64,
                   m=8, ksub=16)


def _pq_sql_ctes(m: int = 8, ksub: int = 16, dsub: int = 8,
                 seed: int = 44) -> str:
    """Shared encode + distance-table CTEs for the PQ oracles. Margin
    safety at sf0.01: min argmin gap per subspace 1.7e-5 (measured) >>
    double noise, so DuckDB and Spark assign identical codes."""
    from carbonapi_spark.datapipe.similarity import pq_codebooks
    cbs = pq_codebooks(m * dsub, m, ksub, seed)

    def cb_lit(j: int) -> str:
        return "[" + ",".join(
            "[" + ",".join(repr(float(x)) for x in cw) + "]"
            for cw in cbs[j]) + "]"

    def dists(j: int) -> str:
        return (f"list_transform({cb_lit(j)}, cw -> list_sum("
                f"list_transform(range(1, {dsub + 1}), i -> "
                f"(v[{j * dsub} + i] - cw[i]) * (v[{j * dsub} + i] - cw[i]))))")

    d_cols = ",\n            ".join(f"{dists(j)} AS d{j}" for j in range(m))
    code_cols = ", ".join(
        f"list_indexof(d{j}, list_aggregate(d{j}, 'min')) AS c{j}"
        for j in range(m))
    adc = " + ".join(f"q.d{j}[c.c{j}]" for j in range(m))
    return f"""
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
vd AS (SELECT vec_id, v,
            {d_cols}
       FROM v),
c AS (SELECT vec_id AS neighbor_id, v AS cv, {code_cols} FROM vd),
q AS (SELECT vec_id AS query_id, v AS qv, * FROM vd WHERE vec_id < 5),
adc AS (SELECT q.query_id, c.neighbor_id, c.cv, q.qv,
               round({adc}, 6) AS adc_dist
        FROM c CROSS JOIN q WHERE c.neighbor_id != q.query_id)""".strip()


_register("pq_adc_topk", _q_pq_adc_topk, f"""
WITH {_pq_sql_ctes()}
SELECT query_id, neighbor_id, adc_dist
FROM (SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rk
      FROM adc)
WHERE rk <= 10
""".strip())


def _q_pq_rerank(spark, sf_dir):
    """ADC + exact rerank (the FAISS IVFPQ,Refine shape): PQ codes pick
    the top-40 candidates in the compressed domain, exact cosine ranks
    only those. Same seeded codebooks as pq_adc_topk."""
    from carbonapi_spark.datapipe.similarity import pq_rerank_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pq_rerank_topk(emb, emb.where(F.col("vec_id") < 5), k=10, r=40,
                          dim=64, m=8, ksub=16)


_register("pq_rerank", _q_pq_rerank, f"""
WITH {_pq_sql_ctes()},
cand AS (SELECT query_id, neighbor_id, cv, qv
         FROM (SELECT query_id, neighbor_id, cv, qv,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY adc_dist, neighbor_id) AS rk
               FROM adc)
         WHERE rk <= 40)
SELECT query_id, neighbor_id, cos_sim
FROM (SELECT query_id, neighbor_id,
             round(CASE WHEN sqrt(list_dot_product(qv, qv))
                             * sqrt(list_dot_product(cv, cv)) > 0
                        THEN list_dot_product(qv, cv)
                             / (sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(cv, cv))) END, 6)
             AS cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(CASE WHEN sqrt(list_dot_product(qv, qv))
                                                        * sqrt(list_dot_product(cv, cv)) > 0
                                                    THEN list_dot_product(qv, cv)
                                                         / (sqrt(list_dot_product(qv, qv))
                                                            * sqrt(list_dot_product(cv, cv))) END, 6) DESC,
                                         neighbor_id) AS rk
      FROM cand)
WHERE rk <= 10
""".strip())


def _q_pq_ivf_topk(spark, sf_dir):
    """IVFADC (FAISS IVFx,PQy): coarse spherical cells bound the ADC scan
    to the probed cells' codes — plain pq_adc_topk scans the FULL codes
    table per query batch; this touches ~n*nprobe/n_centroids rows. Same
    seeded codebooks/centroids as pq_adc_topk/ivf_topk, so the oracle
    replays cells, codes, probe ranking, and ADC exactly."""
    from carbonapi_spark.datapipe.similarity import ivfpq_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivfpq_topk(emb, emb.where(F.col("vec_id") < 5), k=10, dim=64,
                      n_centroids=8, nprobe=3, m=8, ksub=16)


def _q_pq_ivf_refine(spark, sf_dir):
    """IVFPQ,Refine: the cell-pruned ADC stage picks top-40 candidates,
    exact cosine reranks only those — the production ANN configuration
    (sublinear scan AND exact final ordering)."""
    from carbonapi_spark.datapipe.similarity import ivfpq_topk
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivfpq_topk(emb, emb.where(F.col("vec_id") < 5), k=10, dim=64,
                      n_centroids=8, nprobe=3, m=8, ksub=16, refine=40)


def _ivfpq_ctes(n_cent: int = 8, nprobe: int = 3, m: int = 8,
                ksub: int = 16, dsub: int = 8,
                cand_where: str = "") -> str:
    """Cell-pruned variant of ``_pq_sql_ctes``: same encode + distance
    tables, but the adc join is keyed by the coarse cell (corpus argmax
    cell vs each query's top-``nprobe`` probe cells). Margin safety
    inherited from the ivf_topk + pq oracles (same seeds 43/44: min
    cell-argmax gap 1.46e-5, probe-rank gap 1.55e-4, code-argmin gap
    1.7e-5).  ``cand_where`` filters the CANDIDATE side only (the
    ann_delete_probe oracle: deleted ids stop being neighbors while
    the query set is untouched)."""
    from carbonapi_spark.datapipe.similarity import (ivf_centroids,
                                                     pq_codebooks)
    cents = ivf_centroids(m * dsub, n_cent, 43)
    cent_lits = "[" + ",".join(
        "[" + ",".join(repr(x) for x in c) + "]" for c in cents) + "]"
    cbs = pq_codebooks(m * dsub, m, ksub, 44)

    def cb_lit(j: int) -> str:
        return "[" + ",".join(
            "[" + ",".join(repr(float(x)) for x in cw) + "]"
            for cw in cbs[j]) + "]"

    def dists(j: int) -> str:
        return (f"list_transform({cb_lit(j)}, cw -> list_sum("
                f"list_transform(range(1, {dsub + 1}), i -> "
                f"(v[{j * dsub} + i] - cw[i]) * (v[{j * dsub} + i] - cw[i]))))")

    d_cols = ",\n            ".join(f"{dists(j)} AS d{j}" for j in range(m))
    code_cols = ", ".join(
        f"list_indexof(d{j}, list_aggregate(d{j}, 'min')) AS c{j}"
        for j in range(m))
    adc = " + ".join(f"q.d{j}[c.c{j}]" for j in range(m))
    return f"""
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
vd AS (SELECT vec_id, v,
            list_transform({cent_lits}, ct -> list_dot_product(v, ct)) AS ds,
            {d_cols}
       FROM v),
c AS (SELECT vec_id AS neighbor_id, v AS cv,
             list_indexof(ds, list_aggregate(ds, 'max')) AS cell,
             {code_cols} FROM vd {cand_where}),
qc AS (SELECT query_id, pos AS cell
       FROM (SELECT vec_id AS query_id, unnest(ds) AS d,
                    unnest(range(1, {n_cent + 1})) AS pos
             FROM vd WHERE vec_id < 5)
       QUALIFY row_number() OVER (PARTITION BY query_id
                                  ORDER BY d DESC, pos) <= {nprobe}),
q AS (SELECT vec_id AS query_id, v AS qv, * FROM vd WHERE vec_id < 5),
adc AS (SELECT qc.query_id, c.neighbor_id, c.cv, q.qv,
               round({adc}, 6) AS adc_dist
        FROM c JOIN qc USING (cell)
        JOIN q ON q.query_id = qc.query_id
        WHERE c.neighbor_id != qc.query_id)""".strip()


_register("pq_ivf_topk", _q_pq_ivf_topk, f"""
WITH {_ivfpq_ctes()}
SELECT query_id, neighbor_id, adc_dist
FROM (SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rk
      FROM adc)
WHERE rk <= 10
""".strip())


_register("pq_ivf_refine", _q_pq_ivf_refine, f"""
WITH {_ivfpq_ctes()},
cand AS (SELECT query_id, neighbor_id, cv, qv
         FROM (SELECT query_id, neighbor_id, cv, qv,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY adc_dist, neighbor_id) AS rk
               FROM adc)
         WHERE rk <= 40)
SELECT query_id, neighbor_id, cos_sim
FROM (SELECT query_id, neighbor_id,
             round(CASE WHEN sqrt(list_dot_product(qv, qv))
                             * sqrt(list_dot_product(cv, cv)) > 0
                        THEN list_dot_product(qv, cv)
                             / (sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(cv, cv))) END, 6)
             AS cos_sim,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(CASE WHEN sqrt(list_dot_product(qv, qv))
                                                        * sqrt(list_dot_product(cv, cv)) > 0
                                                    THEN list_dot_product(qv, cv)
                                                         / (sqrt(list_dot_product(qv, qv))
                                                            * sqrt(list_dot_product(cv, cv))) END, 6) DESC,
                                         neighbor_id) AS rk
      FROM cand)
WHERE rk <= 10
""".strip())


def _q_ann_compact_probe(spark, sf_dir):
    """Durable-index maintenance end-to-end (VERDICT r12 #3): build the
    IVFADC artifact over part of the embeddings table, append an epoch,
    append the SAME epoch again (the documented at-least-once replay
    duplication of stream_append_ann_index), run compact_ann_index,
    then probe.  Compaction must be invisible to query semantics: the
    result equals the clean single-copy probe, which is exactly what
    the oracle replays (same seeds/params as pq_ivf_topk — the full
    corpus is write+epoch, and compaction collapses the duplicates)."""
    import tempfile

    from carbonapi_spark.datapipe.similarity import (
        ann_index_topk, append_ann_index, compact_ann_index,
        ivf_centroids, pq_codebooks, write_ann_index)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids(64, 8, 43)
    cbs = pq_codebooks(64, 8, 16, 44)
    epoch = emb.where(F.col("vec_id") % 3 == 0)
    with tempfile.TemporaryDirectory() as tmp:
        p = f"{tmp}/ann"
        write_ann_index(emb.where(F.col("vec_id") % 3 != 0), p, cbs,
                        cents)
        append_ann_index(epoch, p)
        append_ann_index(epoch, p)      # the replayed epoch
        stats = compact_ann_index(spark, p)
        assert stats["rows_after"] < stats["rows_before"]
        out = ann_index_topk(spark, p, emb.where(F.col("vec_id") < 5),
                             k=10, nprobe=3)
        rows = out.collect()
        schema = out.schema
    return _local_df(spark, rows, schema)


_register("ann_compact_probe", _q_ann_compact_probe, f"""
WITH {_ivfpq_ctes()}
SELECT query_id, neighbor_id, adc_dist
FROM (SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rk
      FROM adc)
WHERE rk <= 10
""".strip())


def _q_ann_l0_probe(spark, sf_dir):
    """L0 delta-table probe (r14): build the IVFADC artifact over 2/3
    of the embeddings table, land the remaining third as TWO
    ``l0=True`` appends — the streaming-ingest layout: each append is
    ONE unpartitioned file in ``codes_l0``, the main cell layout
    byte-untouched — then probe THROUGH the main ∪ L0 union read.
    The result must equal the clean full-corpus probe (exactly what
    the oracle replays: L0 residency is a layout detail, invisible to
    query semantics), and folding L0 in via ``compact_ann_index``
    must not change a row (asserted inline, bit-for-bit)."""
    import tempfile

    from carbonapi_spark.datapipe.similarity import (
        ann_index_topk, append_ann_index, compact_ann_index,
        ivf_centroids, pq_codebooks, write_ann_index)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids(64, 8, 43)
    cbs = pq_codebooks(64, 8, 16, 44)
    delta = emb.where(F.col("vec_id") % 3 == 0)
    with tempfile.TemporaryDirectory() as tmp:
        p = f"{tmp}/ann"
        write_ann_index(emb.where(F.col("vec_id") % 3 != 0), p, cbs,
                        cents)
        append_ann_index(delta.where(F.col("vec_id") % 2 == 0), p,
                         l0=True)
        append_ann_index(delta.where(F.col("vec_id") % 2 == 1), p,
                         l0=True)
        probe = lambda: ann_index_topk(
            spark, p, emb.where(F.col("vec_id") < 5), k=10, nprobe=3)
        out = probe()
        rows = out.collect()
        schema = out.schema
        # the fold is invisible: same rows after compaction removes L0
        stats = compact_ann_index(spark, p, fragmented_only=True)
        assert stats["l0_rows_folded"] > 0
        assert sorted(map(tuple, probe().collect())) == \
            sorted(map(tuple, rows))
    return _local_df(spark, rows, schema)


_register("ann_l0_probe", _q_ann_l0_probe, f"""
WITH {_ivfpq_ctes()}
SELECT query_id, neighbor_id, adc_dist
FROM (SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rk
      FROM adc)
WHERE rk <= 10
""".strip())


def _q_stream_ann_replay(spark, sf_dir):
    """Streaming ANN ingest pinned in the driver (r14): build the
    IVFADC artifact over 2/3 of the embeddings table, stream the
    remaining third in through ``stream_append_ann_index(l0=True)``
    as an availableNow drain over a two-file source
    (maxFilesPerTrigger=1 — two real foreachBatch epochs, each ONE
    file in ``codes_l0``), then probe THROUGH the live L0 union.
    Streaming residency must be invisible to query semantics: the
    result equals the clean full-corpus probe, which is what the
    oracle replays (same seeds/params as ann_compact_probe).  The
    streaming sibling of ``ann_l0_probe`` the way
    ``stream_minhash_replay`` twins ``minhash_incremental``."""
    import tempfile

    from carbonapi_spark.datapipe.similarity import (
        ann_index_topk, ivf_centroids, pq_codebooks,
        stream_append_ann_index, write_ann_index)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids(64, 8, 43)
    cbs = pq_codebooks(64, 8, 16, 44)
    delta = emb.where(F.col("vec_id") % 3 == 0)
    with tempfile.TemporaryDirectory() as tmp:
        p = f"{tmp}/ann"
        write_ann_index(emb.where(F.col("vec_id") % 3 != 0), p, cbs,
                        cents)
        src = f"{tmp}/src"
        delta.repartition(2).write.mode("overwrite").parquet(src)
        stream = (spark.readStream.schema(delta.schema)
                  .option("maxFilesPerTrigger", 1).parquet(src))
        q = stream_append_ann_index(stream, p, l0=True,
                                    checkpoint_dir=f"{tmp}/ckpt")
        q.awaitTermination()
        # file count via driver listing — zero Spark jobs (r14; the
        # old input_file_name().distinct().count() was a full job)
        import os as _os
        n_l0 = sum(1 for f in _os.listdir(f"{p}/codes_l0")
                   if f.endswith(".parquet"))
        assert n_l0 == 2        # one L0 file per epoch, no cell spray
        out = ann_index_topk(spark, p, emb.where(F.col("vec_id") < 5),
                             k=10, nprobe=3)
        rows = out.collect()
        schema = out.schema
    return _local_df(spark, rows, schema)


_register("stream_ann_replay", _q_stream_ann_replay, f"""
WITH {_ivfpq_ctes()}
SELECT query_id, neighbor_id, adc_dist
FROM (SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rk
      FROM adc)
WHERE rk <= 10
""".strip())


def _q_ann_delete_probe(spark, sf_dir):
    """Durable-index deletion end-to-end (VERDICT r13 #2b): build the
    IVFADC artifact over the full embeddings table, delete a known id
    set by id (vec_id % 17 == 9 — disjoint from the probe queries),
    then probe.  Deletion must equal an index built WITHOUT those ids:
    the oracle replays the same encode + cell-pruned ADC with the
    deleted ids filtered from the CANDIDATE side only (same seeds and
    params as ann_compact_probe)."""
    import tempfile

    from carbonapi_spark.datapipe.similarity import (
        ann_index_topk, delete_from_ann_index, ivf_centroids,
        pq_codebooks, write_ann_index)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids(64, 8, 43)
    cbs = pq_codebooks(64, 8, 16, 44)
    with tempfile.TemporaryDirectory() as tmp:
        p = f"{tmp}/ann"
        write_ann_index(emb, p, cbs, cents)
        doomed = emb.where(F.col("vec_id") % 17 == 9) \
            .select("vec_id")
        stats = delete_from_ann_index(spark, p, doomed)
        assert stats["rows_deleted"] > 0
        out = ann_index_topk(spark, p, emb.where(F.col("vec_id") < 5),
                             k=10, nprobe=3)
        rows = out.collect()
        schema = out.schema
    return _local_df(spark, rows, schema)


_register("ann_delete_probe", _q_ann_delete_probe, f"""
WITH {_ivfpq_ctes(cand_where="WHERE vec_id % 17 != 9")}
SELECT query_id, neighbor_id, adc_dist
FROM (SELECT query_id, neighbor_id, adc_dist,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc_dist, neighbor_id) AS rk
      FROM adc)
WHERE rk <= 10
""".strip())


def _q_ann_auto_route(spark, sf_dir):
    """The exact-vs-index routing seam (VERDICT r13 #2a): ONE durable
    artifact, BOTH ann_auto_topk routes pinned in one result — the
    below-crossover call routes to the exact kernel (crossover above
    corpus size, same kernel as ann_topk), the above-crossover call routes to the index probe
    with exact refine (crossover=0 plus an ``n=`` hint, pinning the
    zero-job hint routing too).  The two legs are tagged and unioned;
    the oracle replays each leg independently."""
    import tempfile

    from carbonapi_spark.datapipe.similarity import (
        ann_auto_topk, ivf_centroids, pq_codebooks, write_ann_index)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = ivf_centroids(64, 8, 43)
    cbs = pq_codebooks(64, 8, 16, 44)
    query = emb.where(F.col("vec_id") < 5)
    with tempfile.TemporaryDirectory() as tmp:
        p = f"{tmp}/ann"
        write_ann_index(emb, p, cbs, cents, store_vectors=True)
        exact = ann_auto_topk(emb, query, k=10, index_path=p,
                              crossover=10 ** 9) \
            .withColumn("route", F.lit("exact"))
        probe = ann_auto_topk(emb, query, k=10, index_path=p,
                              crossover=0, nprobe=3, refine=40, n=1) \
            .withColumn("route", F.lit("index"))
        out = exact.unionAll(probe)
        rows = out.collect()
        schema = out.schema
    return _local_df(spark, rows, schema)


_ANN_REFINE_COS = """round(CASE WHEN sqrt(list_dot_product(qv, qv))
                         * sqrt(list_dot_product(cv, cv)) > 0
                    THEN list_dot_product(qv, cv)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(cv, cv))) END, 6)"""

_register("ann_auto_route", _q_ann_auto_route, f"""
WITH {_ivfpq_ctes()},
exact AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(qv.v, cv.v)
               / (sqrt(list_dot_product(qv.v, qv.v))
                  * sqrt(list_dot_product(cv.v, cv.v))), 6) AS cos_sim
  FROM (SELECT vec_id AS query_id, v FROM v WHERE vec_id < 5) qv
  JOIN (SELECT vec_id AS neighbor_id, v FROM v) cv
    ON neighbor_id != query_id
  QUALIFY row_number() OVER (PARTITION BY query_id
                             ORDER BY cos_sim DESC, neighbor_id) <= 10),
cand AS (SELECT query_id, neighbor_id, cv, qv
         FROM (SELECT query_id, neighbor_id, cv, qv,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY adc_dist, neighbor_id) AS rk
               FROM adc)
         WHERE rk <= 40),
refined AS (
  SELECT query_id, neighbor_id, cos_sim
  FROM (SELECT query_id, neighbor_id,
               {_ANN_REFINE_COS} AS cos_sim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY {_ANN_REFINE_COS} DESC,
                                           neighbor_id) AS rk
        FROM cand)
  WHERE rk <= 10)
SELECT query_id, neighbor_id, cos_sim, 'exact' AS route FROM exact
UNION ALL
SELECT query_id, neighbor_id, cos_sim, 'index' AS route FROM refined
""".strip())


def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): coarse embedding clusters bound the
    quadratic cosine comparison to within-cell pairs; a vector is dropped
    when a lower-id cell-mate is tau-similar. tau=0.35 is calibrated to
    the synthetic embeddings (max pairwise cosine at sf0.01 is ~0.51 —
    production web corpora use ~0.95 on real encoder embeddings)."""
    from carbonapi_spark.datapipe.similarity import semantic_dedup
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_dedup(emb, dim=64, n_centroids=16, tau=0.35)


def _semantic_dedup_oracle(where: str = "") -> str:
    from carbonapi_spark.datapipe.similarity import ivf_centroids
    cents = ivf_centroids(64, 16, 43)
    lits = "[" + ",".join(
        "[" + ",".join(repr(x) for x in c) + "]" for c in cents) + "]"
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings {where}),
a AS (SELECT vec_id, v,
             list_transform({lits}, c -> list_dot_product(v, c)) AS ds,
             sqrt(list_dot_product(v, v)) AS nrm
      FROM v),
b AS (SELECT vec_id,
             CAST(list_indexof(ds, list_aggregate(ds, 'max')) AS INTEGER)
             AS cell,
             round(CASE WHEN nrm > 0
                        THEN list_aggregate(ds, 'max') / nrm END, 6)
             AS centroid_sim,
             CASE WHEN nrm > 0
                  THEN list_transform(v, x -> x / nrm) END AS nv
      FROM a),
c AS (SELECT * FROM b
      QUALIFY row_number() OVER (PARTITION BY cell ORDER BY vec_id)
              <= 10000),
dup AS (SELECT DISTINCT hi.vec_id
        FROM c hi JOIN c lo ON hi.cell = lo.cell
                           AND lo.vec_id < hi.vec_id
        WHERE round(list_dot_product(hi.nv, lo.nv), 6) >= 0.35)
SELECT c.vec_id, cell, centroid_sim, (dup.vec_id IS NULL) AS keep
FROM c LEFT JOIN dup USING (vec_id)
""".strip()


_register("semantic_dedup", _q_semantic_dedup, _semantic_dedup_oracle())


def _q_stream_semantic_replay(spark, sf_dir):
    """STREAMING SemDeDup on the scoreboard at last: the embeddings
    table replayed through ``stream_semantic_dedup``'s
    applyInPandasWithState kernel as an availableNow file stream in
    ``ordered=True`` mode — each cell's arrivals are processed in
    ascending vec_id within the batch, which makes the keep set
    order-independent and EXACTLY equal to batch ``semantic_dedup``
    (the r7 blocker was arrival-order dependence; the ordered mode
    removes it without changing default streaming semantics).  The
    scoreboard row checks (vec_id, keep); matched_id stays pytest-land
    (it is an argmax over raw cosines — the fp-tie class the exact
    catalog avoids)."""
    import tempfile

    from carbonapi_spark.streaming.stateful import stream_semantic_dedup
    schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "embeddings.parquet")
              .parquet(sf_dir))
    out = stream_semantic_dedup(stream, dim=64, n_centroids=16,
                                tau=0.35, ordered=True)
    rows: list = []

    def sink(bdf, _bid):
        rows.extend((int(r["vec_id"]), bool(r["keep"]))
                    for r in bdf.select("vec_id", "keep").collect())

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (out.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return _local_df(spark, sorted(rows) or [],
                                 "vec_id LONG, keep BOOLEAN")


_register("stream_semantic_replay", _q_stream_semantic_replay,
          "SELECT vec_id, keep FROM (" + _semantic_dedup_oracle() + ")")


def _q_dsir_sample(spark, sf_dir):
    """DSIR (Xie et al. 2023): select raw docs whose hashed-ngram feature
    distribution looks like the target's (here: the English subset) via
    Gumbel-top-k importance resampling — deterministic end to end (hash
    gates for noise, seeded xxhash64 features), so DuckDB replays the
    whole selection including the tie-broken top-100."""
    from carbonapi_spark.datapipe.sampling import dsir_sample
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dsir_sample(docs, docs.where(F.col("lang") == "en"), n=100,
                       n_buckets=1000)


def _dsir_oracle(n_buckets: int = 1000, n: int = 100, alpha: float = 0.5,
                 denom: int = 1_000_000) -> str:
    """Replays hashed features, the smoothed log-ratio table, per-doc
    weights, Gumbel noise, and the top-n — the gram strings AND the
    doc-id strings are hashed in ONE xxh64 CTE pass (the chain's
    internal CTE names are fixed, so it can appear only once)."""
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    b = n_buckets
    return f"""
WITH __t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
__grams AS (SELECT doc_id,
                   unnest(list_concat(toks,
                       list_transform(range(greatest(len(toks) - 1, 0)),
                                      j -> toks[j + 1] || ' ' || toks[j + 2])))
                   AS g
            FROM __t),
__strs AS (SELECT DISTINCT t FROM (
              SELECT g AS t FROM __grams
              UNION ALL
              SELECT CAST(doc_id AS VARCHAR) FROM documents)),
{xxh64_ctes('__strs', 't', 'h64', '__xh')},
__b AS (SELECT g.doc_id, ((h64 % {b}) + {b}) % {b} AS bucket
        FROM __grams g JOIN __xh ON __xh.t = g.g),
__rb AS (SELECT bucket, count(*) AS rn FROM __b GROUP BY bucket),
__tb AS (SELECT bucket, count(*) AS tn
         FROM __b JOIN documents USING (doc_id)
         WHERE lang = 'en' GROUP BY bucket),
__tt AS (SELECT sum(tn) AS tt FROM __tb),
__rt AS (SELECT sum(rn) AS rt FROM __rb),
__tab AS (SELECT bucket,
                 ln((coalesce(tn, 0) + {alpha}) / (tt + {alpha} * {b}))
               - ln((rn + {alpha}) / (rt + {alpha} * {b})) AS logr
          FROM __rb LEFT JOIN __tb USING (bucket)
          CROSS JOIN __tt CROSS JOIN __rt),
__w AS (SELECT doc_id, round(sum(logr), 6) AS log_weight
        FROM __b JOIN __tab USING (bucket) GROUP BY doc_id),
__all AS (SELECT d.doc_id, coalesce(w.log_weight, 0.0) AS log_weight
          FROM documents d LEFT JOIN __w w USING (doc_id)),
__g AS (SELECT CAST(t AS BIGINT) AS doc_id,
               -ln(-ln((((h64 % {denom}) + {denom}) % {denom} + 0.5)
                       / {denom})) AS gum
        FROM __xh WHERE t IN (SELECT CAST(doc_id AS VARCHAR)
                              FROM documents))
SELECT a.doc_id, a.log_weight, round(a.log_weight + g.gum, 6) AS key
FROM __all a JOIN __g g USING (doc_id)
ORDER BY key DESC, a.doc_id
LIMIT {n}
""".strip()


_register("dsir_sample", _q_dsir_sample, _dsir_oracle())


def _q_c4_rules(spark, sf_dir):
    """C4 heuristic cleaning (Raffel et al. 2020 §2.2): terminal-
    punctuation + min-words + no-javascript line filter, lorem-ipsum /
    curly-brace / sentence-count page filter — one stateless codegen'd
    projection over the scan."""
    from carbonapi_spark.datapipe.text import c4_rules
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return c4_rules(docs, min_words_per_line=5, min_sentences=1)


_register("c4_rules", _q_c4_rules, r"""
WITH l AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines
           FROM documents),
k AS (SELECT doc_id, text,
             list_filter(lines, x ->
                 right(x, 1) IN ('.', '!', '?', '"', '''')
                 AND len(list_filter(string_split_regex(x, '[ \t\n\x0B\f\r]+'),
                                     t -> t != '')) >= 5
                 AND NOT contains(lower(x), 'javascript')) AS kept
      FROM l),
s AS (SELECT doc_id, text, kept,
             coalesce(array_to_string(kept, chr(10)), '') AS kt FROM k)
SELECT doc_id, kt AS text,
       CAST(len(kept) AS BIGINT) AS n_lines_kept,
       CAST(length(kt) - length(translate(kt, '.!?', '')) AS BIGINT)
       AS n_sentences,
       (NOT contains(lower(text), 'lorem ipsum')
        AND NOT contains(text, '{')
        AND (length(kt) - length(translate(kt, '.!?', ''))) >= 1) AS keep
FROM s
""".strip())


def _q_temperature_mix(spark, sf_dir):
    """Temperature-scaled language mixing (alpha=0.3): keep rates derived
    from the corpus's own lang counts, n_d^(alpha-1) damping — the
    mT5/XLM-R sampling recipe, gate-hash deterministic."""
    from carbonapi_spark.datapipe.sampling import temperature_mix
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return temperature_mix(docs, group_col="lang", alpha=0.3)


def _temperature_mix_oracle(alpha: float = 0.3,
                            denom: int = 1_000_000) -> str:
    """Mirrors the implementation's NULL-group handling: the rates join
    keys on (coalesced value, is-null flag) so an unclassified (NULL
    lang) stratum is counted, rated, and KEPT like any other group — a
    plain USING (lang) equi-join would silently drop it (latent at
    sf0.01, which has no NULL langs, but the oracle must encode the
    contract)."""
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    return f"""
WITH c AS (SELECT coalesce(lang, '') AS gk, lang IS NULL AS gnull,
                  count(*) AS n
           FROM documents GROUP BY 1, 2),
m AS (SELECT min(n) AS nmin FROM c),
r AS (SELECT gk, gnull,
             CAST(round(pow(n / CAST(nmin AS DOUBLE), {alpha - 1.0})
                        * {denom}) AS BIGINT) AS thresh
      FROM c CROSS JOIN m),
__ids AS (SELECT DISTINCT CAST(doc_id AS VARCHAR) AS t FROM documents),
{xxh64_ctes('__ids', 't', 'h64', '__ih')},
g AS (SELECT CAST(t AS BIGINT) AS doc_id,
             ((h64 % {denom}) + {denom}) % {denom} AS gate
      FROM __ih)
SELECT d.* FROM documents d
JOIN r ON coalesce(d.lang, '') = r.gk AND (d.lang IS NULL) = r.gnull
JOIN g USING (doc_id)
WHERE gate < thresh
""".strip()


_register("temperature_mix", _q_temperature_mix, _temperature_mix_oracle())


def _q_unimax_sample(spark, sf_dir):
    """UniMax language mixing (Chung 2023): budget 800 docs, at most 2
    epochs per language — small languages cap at 2 epochs, the rest
    share the closed-form water level. copies is each doc's integer
    multiplicity in the mixed corpus (derandomized hash gate)."""
    from carbonapi_spark.datapipe.sampling import unimax_sample
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (unimax_sample(docs, budget=800, max_epochs=2)
            .select("doc_id", "lang", "copies"))


def _unimax_oracle() -> str:
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    return f"""
WITH __c AS (SELECT coalesce(lang, '') AS gk, lang IS NULL AS gnull,
                    count(*) AS n
             FROM documents GROUP BY 1, 2),
__w AS (SELECT gk, gnull, n, n * 2 AS cap,
               row_number() OVER (ORDER BY n * 2, gk) AS rn,
               sum(n * 2) OVER (ORDER BY n * 2, gk
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) - n * 2 AS pre,
               count(*) OVER () AS k
        FROM __c),
__f AS (SELECT *, cap * (k - rn + 1) <= 800 - pre AS capped FROM __w),
__g AS (SELECT *,
               sum(CASE WHEN capped THEN 1 ELSE 0 END) OVER () AS jstar,
               sum(CASE WHEN capped THEN cap ELSE 0 END) OVER () AS csum
        FROM __f),
__alloc AS (SELECT gk, gnull,
                   round(CASE WHEN capped THEN CAST(cap AS DOUBLE)
                              ELSE (800 - csum)
                                   / CAST(k - jstar AS DOUBLE) END
                         / n, 6) AS epochs
            FROM __g),
__d AS (SELECT doc_id, lang,
               'unimax:' || CAST(doc_id AS VARCHAR) AS t
        FROM documents),
{xxh64_ctes('__d', 't', 'h64', '__h')}
SELECT doc_id, lang, copies FROM (
  SELECT d.doc_id, d.lang,
         CAST(floor(epochs) AS BIGINT)
         + CASE WHEN ((h64 % 1000000) + 1000000) % 1000000
                     < CAST(round((epochs - floor(epochs)) * 1000000)
                            AS BIGINT)
                THEN 1 ELSE 0 END AS copies
  FROM __h d JOIN __alloc a ON coalesce(d.lang, '') = a.gk
                           AND (d.lang IS NULL) = a.gnull)
WHERE copies > 0
""".strip()


_register("unimax_sample", _q_unimax_sample, _unimax_oracle())


def _q_weighted_sample(spark, sf_dir):
    """Length-weighted doc sample (Efraimidis-Spirakis top-n on
    derandomized keys): 100 docs with inclusion probability
    proportional to n_chars — token-budget-unbiased selection."""
    from carbonapi_spark.datapipe.sampling import weighted_sample
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return weighted_sample(docs, "n_chars", 100)


def _weighted_sample_oracle() -> str:
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    return f"""
WITH __d AS (SELECT doc_id, n_chars,
                    'wrs:' || CAST(doc_id AS VARCHAR) AS t
             FROM documents WHERE n_chars > 0),
{xxh64_ctes('__d', 't', 'h64', '__h')}
SELECT doc_id, n_chars AS weight,
       round(ln((((h64 % 1000000) + 1000000) % 1000000 + 0.5) / 1000000)
             / CAST(n_chars AS DOUBLE), 6) AS key
FROM __h ORDER BY key DESC, doc_id LIMIT 100
""".strip()


_register("weighted_sample", _q_weighted_sample, _weighted_sample_oracle())


def _q_zipf_fit(spark, sf_dir):
    """Per-language Zipf slope/intercept over the full term-frequency
    table — natural text sits near slope -1; drift flags templated or
    synthetic corpora."""
    from carbonapi_spark.datapipe.text import zipf_fit
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return zipf_fit(docs)


_register("zipf_fit", _q_zipf_fit, f"""
WITH __tf AS (SELECT lang, term, count(*) AS n
              FROM (SELECT lang, unnest({_TOKS_SQL}) AS term
                    FROM documents)
              GROUP BY lang, term),
__xy AS (SELECT lang,
                ln(CAST(row_number() OVER (PARTITION BY lang
                                           ORDER BY n DESC, term ASC)
                        AS DOUBLE)) AS x,
                ln(CAST(n AS DOUBLE)) AS y
         FROM __tf),
__a AS (SELECT lang, count(*) AS n_terms,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM __xy GROUP BY lang)
SELECT lang, n_terms,
       round((sxy - sx * sy / n_terms)
             / (sxx - sx * sx / n_terms), 6) AS slope,
       round(sy / n_terms - ((sxy - sx * sy / n_terms)
                             / (sxx - sx * sx / n_terms))
                            * sx / n_terms, 6) AS intercept
FROM __a WHERE sxx - sx * sx / n_terms > 0
UNION ALL
SELECT lang, n_terms, NULL, NULL FROM __a
WHERE NOT (sxx - sx * sx / n_terms > 0)
""".strip())


def _q_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per doc — the cheap
    distributional quality signal (low = repeated/boilerplate, very
    high = random/encoded garbage)."""
    from carbonapi_spark.datapipe.text import char_entropy
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return char_entropy(docs)


_register("char_entropy", _q_char_entropy, """
WITH ch AS (SELECT doc_id,
                   unnest(list_filter(string_split(text, ''),
                                      c -> c != '')) AS c
            FROM documents),
pc AS (SELECT doc_id, c, count(*) AS cnt FROM ch GROUP BY doc_id, c),
pd AS (SELECT doc_id, sum(cnt) AS n,
              sum(cnt * log2(cnt)) AS slog
       FROM pc GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(round(log2(n) - slog / n, 6), 0.0) AS entropy
FROM documents d LEFT JOIN pd USING (doc_id)
""".strip())


def _q_ngram_novelty(spark, sf_dir):
    """Cross-doc n-gram novelty (memorization-risk diagnostic): fraction
    of each doc's distinct 2-grams appearing in no other doc."""
    from carbonapi_spark.datapipe.text import ngram_novelty
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_novelty(docs, ngram=2)


_register("ngram_novelty", _q_ngram_novelty, f"""
WITH __d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
__sh AS (SELECT doc_id,
              list_distinct(list_transform(range(greatest(len(toks) - 1, 0)),
                                           j -> toks[j + 1] || ' ' || toks[j + 2]))
              AS sh FROM __d),
__g AS (SELECT doc_id, unnest(sh) AS g FROM __sh),
__dp AS (SELECT g, count(*) AS nd FROM __g GROUP BY g)
SELECT s.doc_id,
       CAST(len(sh) AS BIGINT) AS n_grams,
       coalesce(round(CAST((SELECT count(*) FROM __g gg JOIN __dp USING (g)
                            WHERE gg.doc_id = s.doc_id AND nd = 1)
                           AS DOUBLE) / nullif(len(sh), 0), 6), 0.0)
       AS novel_frac
FROM __sh s
""".strip())


def _q_heavy_hitters(spark, sf_dir):
    """Exact heavy-hitter terms via the count-min-pruned two-pass recipe:
    the sketch (fixed d x w state, map-side combined) rules terms out
    before the shuffle; CMS never under-counts, so the exact HAVING on
    the surviving occurrences returns exactly the true >= 500 set — the
    oracle is plain exact SQL, no sketch replay needed."""
    from carbonapi_spark.datapipe.sketch import heavy_hitters
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return heavy_hitters(docs, threshold=500)


_register("heavy_hitters", _q_heavy_hitters, f"""
SELECT term, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT unnest({_TOKS_SQL}) AS term FROM documents)
GROUP BY term HAVING count(*) >= 500
""".strip())


def _q_oov_rate(spark, sf_dir):
    """Per-doc out-of-vocabulary rate against the corpus's own top-20
    terms (deterministic count-desc/term-asc tie-break) — the tokenizer
    coverage diagnostic."""
    from carbonapi_spark.datapipe.sketch import oov_rate
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return oov_rate(docs, vocab_size=20)


_register("oov_rate", _q_oov_rate, f"""
WITH __tok AS (SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents),
__v AS (SELECT term FROM (SELECT term,
                                 row_number() OVER (ORDER BY count(*) DESC,
                                                    term ASC) AS rn
                          FROM __tok GROUP BY term) WHERE rn <= 20)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(CASE WHEN term IN (SELECT term FROM __v)
                      THEN 0.0 ELSE 1.0 END), 6) AS oov_rate
FROM __tok GROUP BY doc_id
""".strip())


def _q_hll_distinct(spark, sf_dir):
    """Per-language distinct-vocabulary estimate via the deterministic
    HyperLogLog sketch (b=12, 4096 registers) — the mergeable
    distinct-cardinality answer whose register table stays bounded at
    groups*4096 rows no matter how many tokens stream through."""
    from carbonapi_spark.datapipe.sketch import hll_distinct
    from carbonapi_spark.datapipe.text import tokens
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tok = docs.select("lang",
                      F.explode(tokens(F.lower(F.col("text")))).alias("t"))
    return hll_distinct(tok, "t", ("lang",))


def _hll_distinct_oracle() -> str:
    """Bit-for-bit sketch replay: same xxh64, same integer register
    split (low 12 bits -> register, next 50 -> rank via length(bin)),
    same exact-integer harmonic sum scaled by 2^51, same shared double
    constant for the bias-corrected estimate."""
    from carbonapi_spark.datapipe.sketch import _hll_alpha
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    m = 4096
    num_const = repr(_hll_alpha(m) * m * m * float(1 << 51))
    # duplicates can't move max(rho): hash DISTINCT (lang, term) only
    return f"""
WITH __tok AS (SELECT DISTINCT lang, unnest({_TOKS_SQL}) AS t
               FROM documents),
{xxh64_ctes('__tok', 't', 'h64', '__xh')},
__u AS (SELECT lang,
               ((h64 % 4611686018427387904) + 4611686018427387904)
               % 4611686018427387904 AS u
        FROM __xh),
__r AS (SELECT lang, u % {m} AS reg,
               CASE WHEN u // {m} > 0
                    THEN 51 - length(bin(u // {m}))
                    ELSE 51 END AS rho
        FROM __u),
__m AS (SELECT lang, reg, max(rho) AS mrho FROM __r GROUP BY lang, reg),
__a AS (SELECT lang, count(*) AS registers_used,
               sum(1::BIGINT << (51 - mrho)) AS s,
               {m} - count(*) AS zeros
        FROM __m GROUP BY lang),
__e AS (SELECT lang, registers_used, zeros,
               {num_const}
               / CAST(s + zeros * (1::BIGINT << 51) AS DOUBLE) AS eraw
        FROM __a)
SELECT lang, registers_used,
       round(CASE WHEN eraw <= {2.5 * m} AND zeros > 0
                  THEN {m} * ln({float(m)} / CAST(zeros AS DOUBLE))
                  ELSE eraw END, 3) AS est_distinct
FROM __e
""".strip()


_register("hll_distinct", _q_hll_distinct, _hll_distinct_oracle())


def _q_bloom_filter(spark, sf_dir):
    """Bloom-filter membership pre-filter: a packed 1024-bit bitmap is
    built over the doc ids of four member sources and every document is
    probed map-side (k broadcast word-lookups + bit tests, the corpus
    never shuffles).  Output keeps the TRUE membership next to the
    bloom verdict so the one-sided-error contract is oracle-checked:
    members always hit; non-member hits are the deterministic false
    positives of this (m, k, seed)."""
    from carbonapi_spark.datapipe.sketch import bloom_build, bloom_probe
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    member = F.col("source").isin("src0", "src1", "src2", "src3")
    bloom = bloom_build(docs.where(member), "doc_id", m_bits=1024, k=3)
    out = bloom_probe(docs.select("doc_id", "source"), bloom, "doc_id",
                      m_bits=1024, k=3, flag_col="bloom_hit")
    return out.select("doc_id", member.alias("member"), "bloom_hit")


def _bloom_oracle(m_bits: int = 1024, k: int = 3, seed: int = 7) -> str:
    from carbonapi_spark.datapipe.sketch import _BLOOM_P, _bloom_params
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    p = _BLOOM_P
    params = _bloom_params(k, seed)
    pos_cols = ",\n       ".join(
        f"((__h * {a} + {b}) % {p}) % {m_bits} AS p{i}"
        for i, (a, b) in enumerate(params))
    mem_union = "\n         UNION ".join(
        f"SELECT p{i} AS pos FROM __pp WHERE member" for i in range(k))
    hit = " AND ".join(f"p{i} IN (SELECT pos FROM __mp)" for i in range(k))
    return f"""
WITH __k AS (SELECT doc_id, source,
                    '__bf:' || CAST(doc_id AS VARCHAR) AS t
             FROM documents),
{xxh64_ctes('__k', 't', 'h64', '__kh')},
__hp AS (SELECT doc_id,
                source IN ('src0', 'src1', 'src2', 'src3') AS member,
                ((h64 % {p}) + {p}) % {p} AS __h
         FROM __kh),
__pp AS (SELECT doc_id, member,
       {pos_cols}
         FROM __hp),
__mp AS ({mem_union})
SELECT doc_id, member, ({hit}) AS bloom_hit FROM __pp
""".strip()


_register("bloom_filter", _q_bloom_filter, _bloom_oracle())


def _q_stream_cms_replay(spark, sf_dir):
    """Streaming count-min sketch on the driver scoreboard via the
    availableNow replay: the documents slice streams through
    ``stream_cms_counters``'s stateful sum kernel, the sink keeps the
    final counter per (depth, bucket).  Counter addition is
    commutative/associative, so the streamed sketch is bit-for-bit the
    batch ``cms_counters`` regardless of micro-batch boundaries — the
    oracle replays the batch sketch (salted xxhash64 buckets included)
    in SQL."""
    import tempfile

    from carbonapi_spark.streaming.stateful import stream_cms_counters
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir)
              .where(F.col("doc_id") < 500))
    out = stream_cms_counters(stream, "text", w=256, d=4)
    final: dict = {}

    def sink(bdf, _bid):
        for r in bdf.collect():
            k = (r["depth"], r["bucket"])
            final[k] = max(final.get(k, 0), r["cnt"])

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (out.writeStream.outputMode("update")
                 .foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return _local_df(spark, 
        [(dep, b, c) for (dep, b), c in sorted(final.items())] or [],
        "depth int, bucket int, cnt long")


def _stream_cms_oracle(w: int = 256, d: int = 4) -> str:
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    return f"""
WITH __tk AS (SELECT unnest({_TOKS_SQL}) AS term
              FROM documents WHERE doc_id < 500),
__tc AS (SELECT term, count(*) AS c FROM __tk GROUP BY term),
__sl AS (SELECT c,
                CAST(i AS INT) AS depth,
                '__cms' || CAST(i AS VARCHAR) || ':' || term AS t
         FROM __tc CROSS JOIN (SELECT unnest(range({d})) AS i)),
{xxh64_ctes('__sl', 't', 'h64', '__xh')}
SELECT depth,
       CAST(((h64 % {w}) + {w}) % {w} AS INT) AS bucket,
       CAST(sum(c) AS BIGINT) AS cnt
FROM __xh GROUP BY depth, bucket
""".strip()


_register("stream_cms_replay", _q_stream_cms_replay, _stream_cms_oracle())


def _q_stream_hll_replay(spark, sf_dir):
    """Streaming HyperLogLog on the driver scoreboard via the
    availableNow replay pattern: the documents slice streams through
    ``stream_hll_registers``'s stateful max-merge kernel, the sink
    gathers the final register table, and ``hll_estimate`` finishes it.
    Register max-merge is commutative/associative/idempotent, so the
    streamed sketch — and the estimate — is bit-for-bit the batch
    sketch regardless of micro-batch arrival: the oracle is the batch
    HLL replay on the same slice."""
    import tempfile

    from carbonapi_spark.datapipe.sketch import hll_estimate
    from carbonapi_spark.datapipe.text import tokens as _tok
    from carbonapi_spark.streaming.stateful import stream_hll_registers
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir)
              .where(F.col("doc_id") < 500))
    toks = stream.select("lang",
                         F.explode(_tok(F.lower(F.col("text")))).alias("t"))
    out = stream_hll_registers(toks, "t", "lang")
    final: dict = {}

    def sink(bdf, _bid):
        for r in bdf.collect():
            k = (r["grp"], r["reg"])
            final[k] = max(final.get(k, 0), r["mrho"])

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (out.writeStream.outputMode("update")
                 .foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    regs = _local_df(spark, 
        [(g, r, m) for (g, r), m in sorted(final.items())] or [],
        "lang string, reg int, mrho int")
    return hll_estimate(regs, ("lang",))


def _stream_hll_oracle() -> str:
    base = _hll_distinct_oracle()
    return base.replace("FROM documents)",
                        "FROM documents WHERE doc_id < 500)")


_register("stream_hll_replay", _q_stream_hll_replay, _stream_hll_oracle())


def _q_norm_dedup(spark, sf_dir):
    """Exact dedup on normalization-canonicalized text (lowercase, strip
    punctuation, collapse whitespace) — the RefinedWeb-style exact-dup
    pass that catches re-encodings byte-exact dedup misses."""
    from carbonapi_spark.datapipe.dedup import normalized_dedup
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return normalized_dedup(docs)


_register("norm_dedup", _q_norm_dedup, r"""
SELECT min(doc_id) AS keeper_id, CAST(count(*) AS BIGINT) AS n_copies
FROM (SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text),
                                                '[^a-z0-9 \t\n\x0B\f\r]', '', 'g'),
                                 '[ \t\n\x0B\f\r]+', ' ', 'g')) AS __norm
      FROM documents)
GROUP BY __norm
""".strip())


def _q_corpus_stats(spark, sf_dir):
    """Curation report: per-(source, lang) doc counts, token totals, and
    char stats incl. exact interpolated median — one hash agg."""
    from carbonapi_spark.datapipe.text import corpus_stats
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return corpus_stats(docs)


_register("corpus_stats", _q_corpus_stats, f"""
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(len({_TOKS_SQL})) AS BIGINT) AS total_tokens,
       round(avg(length(text)), 6) AS mean_chars,
       round(quantile_cont(length(text), 0.5), 6) AS median_chars
FROM documents
GROUP BY source, lang
""".strip())


def _q_hashed_vectors(spark, sf_dir):
    """Feature-hashed doc embeddings (hashing trick), exploded to
    (doc_id, dim_idx, value) scalar rows so the driver value-hashes
    exactly; the array form feeds the ANN/SemDeDup ops (composition
    pinned in pytest)."""
    from carbonapi_spark.datapipe.text import hashed_doc_vectors
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    v = hashed_doc_vectors(docs, dim=16)
    return v.select("doc_id",
                    F.posexplode("embedding").alias("dim_idx", "value")) \
            .select("doc_id", F.col("dim_idx").cast("long").alias("dim_idx"),
                    "value")


def _hashed_vectors_oracle(dim: int = 16) -> str:
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    return f"""
WITH __t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
__e AS (SELECT doc_id, unnest(toks) AS t FROM __t),
__dg AS (SELECT DISTINCT t FROM __e),
{xxh64_ctes('__dg', 't', 'h64', '__xh')},
__wb AS (SELECT doc_id, ((h64 % {dim}) + {dim}) % {dim} AS b,
                CASE WHEN ((h64 >> 33) & 1) = 0
                     THEN 1.0 ELSE -1.0 END AS s
         FROM __e JOIN __xh USING (t)),
__pb AS (SELECT doc_id, b, sum(s) AS w FROM __wb GROUP BY doc_id, b),
__grid AS (SELECT d.doc_id, g.i
           FROM (SELECT DISTINCT doc_id FROM documents) d,
                (SELECT unnest(range({dim})) AS i) g)
SELECT g.doc_id, CAST(g.i AS BIGINT) AS dim_idx,
       CAST(coalesce(w, 0.0) AS DOUBLE) AS value
FROM __grid g
LEFT JOIN __pb ON __pb.doc_id = g.doc_id AND __pb.b = g.i
""".strip()


_register("hashed_vectors", _q_hashed_vectors, _hashed_vectors_oracle())


def _q_gopher_rules(spark, sf_dir):
    """Full Gopher Table-A1 document rule set (word/char stats, symbol
    and bullet/ellipsis line fractions, alphabetic-word fraction,
    stop-word presence) as one codegen'd projection; min_words and
    min_stop_hits lowered (10 / 1) for the ~40-word multilingual
    synthetic docs so the keep flags actually split (382/118 at
    sf0.01 — the default min_stop_hits=2 fails every synthetic doc)."""
    from carbonapi_spark.datapipe.text import gopher_rules
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gopher_rules(docs, min_words=10, min_stop_hits=1)


_register("gopher_rules", _q_gopher_rules, r"""
WITH d AS (SELECT doc_id, text,
                  list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0B\f\r]+'),
                              x -> x != '') AS toks,
                  string_split(text, chr(10)) AS lines
           FROM documents),
m AS (SELECT doc_id, text, toks, lines,
             len(toks) AS n_words, len(lines) AS n_lines,
             (length(text) - length(translate(text, '#', '')))
             + (length(text) - length(replace(text, '...', ''))) // 3
             AS n_sym
      FROM d)
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CASE WHEN n_words > 0 THEN
            round(CAST(list_sum(list_transform(toks, w -> length(w)))
                       AS DOUBLE) / n_words, 6) END AS mean_word_len,
       CASE WHEN n_words > 0 THEN
            round(CAST(n_sym AS DOUBLE) / n_words, 6) END AS symbol_ratio,
       CASE WHEN n_lines > 0 THEN
            round(CAST(len(list_filter(lines, l ->
                starts_with(ltrim(l), chr(8226))
                OR starts_with(ltrim(l), '- '))) AS DOUBLE)
                / n_lines, 6) END AS bullet_frac,
       CASE WHEN n_lines > 0 THEN
            round(CAST(len(list_filter(lines, l ->
                ends_with(rtrim(l), '...'))) AS DOUBLE)
                / n_lines, 6) END AS ellipsis_frac,
       CASE WHEN n_words > 0 THEN
            round(CAST(len(list_filter(toks, w ->
                regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
                / n_words, 6) END AS alpha_frac,
       CAST(len(list_intersect(list_distinct(toks),
            ['the','be','to','of','and','that','have','with']))
            AS BIGINT) AS stop_hits,
       coalesce(
           n_words BETWEEN 10 AND 100000
           AND (CASE WHEN n_words > 0 THEN
                round(CAST(list_sum(list_transform(toks, w -> length(w)))
                           AS DOUBLE) / n_words, 6) END) BETWEEN 3.0 AND 10.0
           AND (CASE WHEN n_words > 0 THEN
                round(CAST(n_sym AS DOUBLE) / n_words, 6) END) <= 0.1
           AND (CASE WHEN n_lines > 0 THEN
                round(CAST(len(list_filter(lines, l ->
                    starts_with(ltrim(l), chr(8226))
                    OR starts_with(ltrim(l), '- '))) AS DOUBLE)
                    / n_lines, 6) END) <= 0.9
           AND (CASE WHEN n_lines > 0 THEN
                round(CAST(len(list_filter(lines, l ->
                    ends_with(rtrim(l), '...'))) AS DOUBLE)
                    / n_lines, 6) END) <= 0.3
           AND (CASE WHEN n_words > 0 THEN
                round(CAST(len(list_filter(toks, w ->
                    regexp_matches(w, '[a-zA-Z]'))) AS DOUBLE)
                    / n_words, 6) END) >= 0.8
           AND len(list_intersect(list_distinct(toks),
               ['the','be','to','of','and','that','have','with'])) >= 1,
           false) AS keep
FROM m
""".strip())


# --------------------------------------------------------------------------
# round 1, batch 5: embedding near-dup + vocabulary stats
# --------------------------------------------------------------------------

def _q_embedding_dedup(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (threshold 0.9, exact).

    Brute force is the oracle-checkable baseline; `lsh_topk` is the
    bucketed scale path for the same computation."""
    from carbonapi_spark.datapipe.similarity import dot, norm, _as_double
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .where(F.col("vec_id") < 300))  # bounded pair count per SF
    # normalize once per vector: the pair join then needs a single dot.
    # norm is hoisted to its own column first — inside the transform lambda
    # it would be re-evaluated per element (no CSE across lambda scopes)
    e = _as_double(F.col("embedding"))
    nv = (emb.select(F.col("vec_id"), e.alias("__e"), norm(e).alias("__n"))
          .select(F.col("vec_id"),
                  F.transform(F.col("__e"),
                              lambda x: x / F.col("__n")).alias("__u")))
    a = nv.select(F.col("vec_id").alias("id_a"), F.col("__u").alias("__ua"))
    b = nv.select(F.col("vec_id").alias("id_b"), F.col("__u").alias("__ub"))
    return (a.join(b, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.round(dot(F.col("__ua"), F.col("__ub")), 6).alias("cos_sim"))
            .where(F.col("cos_sim") >= 0.4))


_register("embedding_dedup", _q_embedding_dedup, """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 300),
     sims AS (
       SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              round(list_dot_product(a.e, b.e)
                    / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
                    6) AS cos_sim
       FROM v a JOIN v b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cos_sim FROM sims WHERE cos_sim >= 0.4
""".strip())


def _q_vocab_top(spark, sf_dir):
    """Top-100 tokens by document frequency (tie-break alphabetical)."""
    from carbonapi_spark.datapipe.text import word_set
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (docs.select(F.explode(word_set(F.col("text"))).alias("token"))
            .groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
            .orderBy(F.desc("doc_freq"), F.asc("token")).limit(100))


_register("vocab_top", _q_vocab_top, r"""
SELECT token, CAST(COUNT(*) AS BIGINT) AS doc_freq
FROM (SELECT unnest(list_distinct(list_filter(
                 string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'), x -> x != ''))) AS token
      FROM documents)
GROUP BY token ORDER BY doc_freq DESC, token LIMIT 100
""".strip())


_g("xff_aggregate", "aggregate(setXFilesFactor(events.u*.click, 0.5), 'sum')",
   """
SELECT 'sumSeries(setXFilesFactor(events.u*.click, 0.5))' AS name, ts,
       round(CASE WHEN CAST(COUNT(value) AS DOUBLE) / COUNT(*) >= 0.5
                  THEN SUM(value) END, 6) AS value
FROM dense GROUP BY ts
""".strip(),
   r"regexp_matches(name, '^events\.u[^.]*\.click$')")


# --------------------------------------------------------------------------
# round 5: corpus-level pipeline ops — dedup clustering, repetition
# quality, contamination audit, deterministic mixing, tf-idf
# --------------------------------------------------------------------------

def _q_dedup_clusters(spark, sf_dir):
    """Fuzzy-dedup clustering: shared-5-gram near-dup graph -> connected
    components (large-star/small-star, ``datapipe/cluster.py``) -> every
    doc labeled with its cluster's min doc_id. The production edge
    generator is MinHash-LSH + Jaccard (`minhash_dedup`); this entry uses
    exact shared-shingle edges so the oracle replays the whole pipeline
    in pure SQL (recursive CTE for the component closure)."""
    from carbonapi_spark.datapipe.cluster import connected_components
    from carbonapi_spark.datapipe.dedup import shared_shingle_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = shared_shingle_pairs(docs, ngram=5)
    cc = (connected_components(edges, src="id_a", dst="id_b")
          .withColumnRenamed("node", "doc_id"))
    return (docs.select("doc_id").join(cc, "doc_id", "left")
            .select(F.col("doc_id").cast("long"),
                    F.coalesce("cluster_id", F.col("doc_id"))
                    .cast("long").alias("cluster_id")))


def _5gram_sql() -> str:
    parts = " || ' ' || ".join(f"toks[j + {i + 1}]" for i in range(5))
    return (f"list_distinct(list_transform(range(greatest(len(toks) - 4, 0)),"
            f" j -> {parts}))")


def _cc_closure_ctes() -> str:
    """Shared-5-gram edge set + recursive component closure (min label
    per node) — the SQL replay of shared_shingle_pairs +
    connected_components."""
    return rf"""
__d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
__sh AS (SELECT doc_id, {_5gram_sql()} AS sh FROM __d),
__ds AS (SELECT doc_id, unnest(sh) AS g FROM __sh),
__e0 AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         FROM __ds a JOIN __ds b ON a.g = b.g AND a.doc_id <> b.doc_id),
__walk(node, lbl) AS (
    SELECT src, src FROM __e0
    UNION
    SELECT e.dst, w.lbl FROM __walk w JOIN __e0 e ON e.src = w.node
    WHERE w.lbl < e.dst),
__cc AS (SELECT node AS doc_id, min(lbl) AS cluster_id
         FROM __walk GROUP BY node)""".strip()


_register("dedup_clusters", _q_dedup_clusters, rf"""
WITH RECURSIVE
{_cc_closure_ctes()}
SELECT d.doc_id, CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
FROM documents d LEFT JOIN __cc c USING (doc_id)
""".strip())


def _q_dedup_stats(spark, sf_dir):
    """The dedup run report: cluster-size histogram + per-size doc and
    duplicate counts from the clustering output — (size, n_clusters,
    n_docs, n_dups) where n_dups = docs that would be dropped keeping
    one per cluster.  Two aggregations over the cluster labels
    (cluster-count-sized after the first)."""
    labels = _q_dedup_clusters(spark, sf_dir)
    sizes = (labels.groupBy("cluster_id")
             .agg(F.count(F.lit(1)).alias("size")))
    return (sizes.groupBy("size")
            .agg(F.count(F.lit(1)).alias("n_clusters"))
            .select("size", "n_clusters",
                    (F.col("size") * F.col("n_clusters")).alias("n_docs"),
                    ((F.col("size") - 1) * F.col("n_clusters"))
                    .alias("n_dups")))


def _dedup_stats_oracle() -> str:
    return f"""
WITH __lbl AS MATERIALIZED (SELECT * FROM ({ORACLES['dedup_clusters']})),
__sz AS (SELECT cluster_id, count(*) AS size FROM __lbl
         GROUP BY cluster_id)
SELECT size, count(*) AS n_clusters,
       size * count(*) AS n_docs,
       (size - 1) * count(*) AS n_dups
FROM __sz GROUP BY size
""".strip()


_register("dedup_stats", _q_dedup_stats, _dedup_stats_oracle())


def _q_dedup_keep_best(spark, sf_dir):
    """Quality-aware cluster keeper: same 5-gram near-dup clusters as
    `dedup_clusters`, but keep the longest doc per cluster (tie: min id)
    instead of the min id."""
    from carbonapi_spark.datapipe.cluster import dedup_keep_best
    from carbonapi_spark.datapipe.dedup import shared_shingle_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = shared_shingle_pairs(docs, ngram=5)
    return dedup_keep_best(docs, edges, score_col="n_chars")


_register("dedup_keep_best", _q_dedup_keep_best, rf"""
WITH RECURSIVE
{_cc_closure_ctes()}
SELECT d.doc_id,
       CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
       (row_number() OVER (
            PARTITION BY coalesce(c.cluster_id, d.doc_id)
            ORDER BY d.n_chars DESC, d.doc_id) = 1) AS keep
FROM documents d LEFT JOIN __cc c USING (doc_id)
""".strip())


def _q_shard_assignment(spark, sf_dir):
    from carbonapi_spark.datapipe.sampling import shard_assignment
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return shard_assignment(docs, n_shards=32)


def _shard_oracle() -> str:
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    return f"""
WITH __k AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS t FROM documents),
{xxh64_ctes('__k', 't', 'h64', '__h')},
__s AS (SELECT doc_id, ((h64 % 32) + 32) % 32 AS shard, h64 FROM __h)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY h64, doc_id)
            AS BIGINT) AS pos
FROM __s
""".strip()


_register("shard_assignment", _q_shard_assignment, _shard_oracle())


def _q_pack_sequences(spark, sf_dir):
    from carbonapi_spark.datapipe.sampling import pack_sequences
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(docs, budget=256, n_shards=32)


def _pack_oracle() -> str:
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    ntok = (r"len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'),"
            r" x -> x != ''))")
    return f"""
WITH __k AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS t,
                    {ntok} AS nt
             FROM documents),
{xxh64_ctes('__k', 't', 'h64', '__h')},
__s AS (SELECT doc_id, ((h64 % 32) + 32) % 32 AS shard, h64, nt FROM __h),
__w AS (SELECT doc_id, shard,
               sum(nt) OVER (PARTITION BY shard ORDER BY h64, doc_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) - nt AS st
        FROM __s)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(floor(st / 256.0) AS BIGINT) AS seq_in_shard,
       CAST(st % 256 AS BIGINT) AS "offset"
FROM __w
""".strip()


_register("pack_sequences", _q_pack_sequences, _pack_oracle())


def _q_rep_filters(spark, sf_dir):
    from carbonapi_spark.datapipe.text import repetition_features
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return repetition_features(docs, ngram=2)


_register("rep_filters", _q_rep_filters, rf"""
WITH __d AS (SELECT doc_id, length(text) AS nc, {_TOKS_SQL} AS toks
             FROM documents),
__g AS (SELECT doc_id, nc,
               unnest(list_transform(range(greatest(len(toks) - 1, 0)),
                                     j -> toks[j + 1] || ' ' || toks[j + 2]))
               AS g
        FROM __d),
__pg AS (SELECT doc_id, nc, g, count(*) AS cnt FROM __g GROUP BY 1, 2, 3),
__pd AS (SELECT doc_id, nc, sum(cnt) AS total, count(*) AS n_distinct,
                max(cnt * length(g)) AS top_chars
         FROM __pg GROUP BY 1, 2)
SELECT d.doc_id,
       coalesce(round(1.0 - CAST(n_distinct AS DOUBLE) / total, 6), 0.0)
           AS dup_ngram_frac,
       coalesce(round(CAST(top_chars AS DOUBLE) / p.nc, 6), 0.0)
           AS top_ngram_char_frac
FROM documents d LEFT JOIN __pd p USING (doc_id)
""".strip())


def _q_contamination(spark, sf_dir):
    """Train/benchmark n-gram overlap audit; every 97th doc plays the
    held-out benchmark."""
    from carbonapi_spark.datapipe.dedup import contamination
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.where(F.col("doc_id") % 97 == 0)
    train = docs.where(F.col("doc_id") % 97 != 0)
    return (contamination(train, bench, ngram=3)
            .select(F.col("doc_id").cast("long"),
                    F.col("n_hits").cast("long")))


def _3gram_sql() -> str:
    parts = " || ' ' || ".join(f"toks[j + {i + 1}]" for i in range(3))
    return (f"list_distinct(list_transform(range(greatest(len(toks) - 2, 0)),"
            f" j -> {parts}))")


_register("contamination", _q_contamination, rf"""
WITH __d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
__sh AS (SELECT doc_id, {_3gram_sql()} AS sh FROM __d),
__b AS (SELECT DISTINCT unnest(sh) AS g FROM __sh WHERE doc_id % 97 = 0),
__t AS (SELECT doc_id, unnest(sh) AS g FROM __sh WHERE doc_id % 97 <> 0)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
FROM __t JOIN __b USING (g) GROUP BY doc_id
""".strip())


def _q_stratified_sample(spark, sf_dir):
    """Deterministic data-mixing gate: per-language keep rates via an
    xxhash64-mod-1000 threshold on the doc id."""
    from carbonapi_spark.datapipe.sampling import stratified_sample
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rates = {"en": 0.9, "de": 0.5, "fr": 0.25, "es": 0.25, "zh": 0.125}
    return (stratified_sample(docs, rates, group_col="lang",
                              default_rate=0.5)
            .select(F.col("doc_id").cast("long"), "lang"))


def _stratified_oracle() -> str:
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    return f"""
WITH __k AS (SELECT doc_id, lang, CAST(doc_id AS VARCHAR) AS t
             FROM documents),
{xxh64_ctes('__k', 't', 'h64', '__h')}
SELECT doc_id, lang FROM __h
WHERE ((h64 % 1000) + 1000) % 1000 <
      CASE lang WHEN 'en' THEN 900 WHEN 'de' THEN 500 WHEN 'fr' THEN 250
                WHEN 'es' THEN 250 WHEN 'zh' THEN 125 ELSE 500 END
""".strip()


_register("stratified_sample", _q_stratified_sample, _stratified_oracle())


def _q_tfidf_top(spark, sf_dir):
    from carbonapi_spark.datapipe.text import tfidf_top_terms
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_top_terms(docs, k=3)


_register("tfidf_top", _q_tfidf_top, r"""
WITH __t AS (SELECT doc_id, unnest(list_filter(
                 string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'), x -> x != ''))
                 AS term
             FROM documents),
__tf AS (SELECT doc_id, term, count(*) AS tf FROM __t GROUP BY 1, 2),
__df AS (SELECT term, count(*) AS df FROM __tf GROUP BY term),
__n AS (SELECT count(*) AS n FROM documents),
__s AS (SELECT doc_id, term, tf,
               round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
        FROM __tf JOIN __df USING (term) CROSS JOIN __n)
SELECT doc_id, term, tfidf,
       CAST(row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS BIGINT) AS rank
FROM __s
QUALIFY rank <= 3
""".strip())


_LR_WEIGHTS = {"the": 0.8, "and": 0.6, "of": 0.5, "to": 0.4, "in": 0.4,
               "is": 0.3, "data": -0.2, "click": -1.5, "buy": -1.2,
               "cheap": -1.4, "free": -0.9, "win": -0.8}
_LR_BIAS = -0.25


def _q_quality_lr(spark, sf_dir):
    """Classifier-based quality filtering (GPT-3 WebText-classifier
    shape): logistic score over a broadcast term-weight table. Fixed
    deterministic weights here so the oracle replays the exact scores;
    production trains them with text.train_quality_lr."""
    from carbonapi_spark.datapipe.text import score_quality_lr
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return score_quality_lr(docs, _LR_WEIGHTS, _LR_BIAS)


def _lr_logit_ctes() -> str:
    """CTE chain ending at ``__zm``: (doc_id, zm BIGINT) — the LR logit
    in exact integer micro-units (weights and bias quantized to 1e-6,
    summed as BIGINT).  Matches text.quality_logit_micro: integer
    accumulation is summation-order-independent, so the logit — the
    score's ranking key — is identical across engines, partitionings
    and libms."""
    vals = ", ".join(f"('{t}', {int(round(w * 1_000_000))})"
                     for t, w in sorted(_LR_WEIGHTS.items()))
    bias_u = int(round(_LR_BIAS * 1_000_000))
    return f"""
__w(term, w) AS (VALUES {vals}),
__t AS (SELECT doc_id, unnest(list_filter(
            string_split_regex(lower(text), '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '')) AS term
        FROM documents),
__zs AS (SELECT t.doc_id, coalesce(sum(w), 0) AS z
         FROM __t t LEFT JOIN __w USING (term) GROUP BY t.doc_id),
__zm AS MATERIALIZED (
  SELECT d.doc_id,
         CAST(coalesce(z, 0) + {bias_u} AS BIGINT) AS zm
  FROM documents d LEFT JOIN __zs USING (doc_id))""".strip()


_LR_SCORE_SQL = ("round(1.0 / (1.0 + exp(-(CAST(zm AS DOUBLE)"
                 " / 1000000))), 6)")


def _quality_lr_oracle() -> str:
    return f"""
WITH {_lr_logit_ctes()}
SELECT doc_id, {_LR_SCORE_SQL} AS lr_score FROM __zm
""".strip()


_register("quality_lr", _q_quality_lr, _quality_lr_oracle())


def _q_quality_auc(spark, sf_dir):
    """Exact ROC-AUC (Mann-Whitney, average-rank ties) of the LR
    quality score against a deterministic rule label (doc mentions
    'spark') — does the classifier separate the rule's populations?
    Ranks on the INTEGER micro-logit (sigmoid is monotone, so the AUC
    is the score's AUC with an engine-portable tie structure — a
    rounded double score can flip tie groups at a 6-dp boundary under
    a different summation order; an exact integer cannot).  Integer
    rank arithmetic, one final division."""
    from carbonapi_spark.datapipe.text import quality_logit_micro, \
        roc_auc, word_set
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = quality_logit_micro(docs, _LR_WEIGHTS, _LR_BIAS)
    labeled = scored.join(
        docs.select("doc_id",
                    F.array_contains(word_set(F.col("text")), "spark")
                    .cast("int").alias("__y")), "doc_id")
    return roc_auc(labeled, "logit_micro", "__y")


def _quality_auc_oracle(ints: bool = False) -> str:
    if ints:
        finish = """
SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(sum(cnt) - sum(pos) AS BIGINT) AS n_neg,
       CAST(sum(pos * r2) - sum(pos) * (sum(pos) + 1) AS BIGINT) AS mw_num,
       CAST(2 * sum(pos) * (sum(cnt) - sum(pos)) AS BIGINT) AS mw_den
FROM __r""".strip()
    else:
        finish = """
SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(sum(cnt) - sum(pos) AS BIGINT) AS n_neg,
       CAST(sum(pos * r2) - sum(pos) * (sum(pos) + 1) AS DOUBLE)
           / (2 * sum(pos) * (sum(cnt) - sum(pos))) AS auc
FROM __r""".strip()
    return f"""
WITH {_lr_logit_ctes()},
__sc AS (
  SELECT s.doc_id, s.zm,
         CASE WHEN list_contains(list_distinct(list_filter(
                  string_split_regex(lower(d.text), '[ \\t\\n\\x0B\\f\\r]+'),
                  x -> x != '')), 'spark')
              THEN 1 ELSE 0 END AS y
  FROM __zm s JOIN documents d USING (doc_id)),
__g AS (SELECT zm AS s, count(*) AS cnt, sum(y) AS pos
        FROM __sc GROUP BY zm),
__r AS (SELECT cnt, pos,
               2 * (sum(cnt) OVER (ORDER BY s
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) - cnt + 1)
               + cnt - 1 AS r2
        FROM __g)
{finish}
""".strip()


_register("quality_auc", _q_quality_auc, _quality_auc_oracle())


def _q_quality_calibration(spark, sf_dir):
    """Reliability diagram of the LR quality score against the same
    rule label as quality_auc — 10 equal-width bins, mean predicted
    probability vs empirical positive rate."""
    from carbonapi_spark.datapipe.text import (
        calibration_curve, score_quality_lr, word_set)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = score_quality_lr(docs, _LR_WEIGHTS, _LR_BIAS)
    labeled = scored.join(
        docs.select("doc_id",
                    F.array_contains(word_set(F.col("text")), "spark")
                    .cast("int").alias("__y")), "doc_id")
    return calibration_curve(labeled, "lr_score", "__y")


def _quality_calibration_oracle() -> str:
    return f"""
WITH {_lr_logit_ctes()},
__sc AS (
  SELECT s.doc_id, {_LR_SCORE_SQL} AS lr_score,
         CASE WHEN list_contains(list_distinct(list_filter(
                  string_split_regex(lower(d.text), '[ \\t\\n\\x0B\\f\\r]+'),
                  x -> x != '')), 'spark')
              THEN 1 ELSE 0 END AS y
  FROM __zm s JOIN documents d USING (doc_id))
SELECT CAST(least(floor(lr_score * 10), 9) AS INT) AS bin,
       count(*) AS n, round(avg(lr_score), 6) AS mean_score,
       round(avg(CAST(y AS DOUBLE)), 6) AS pos_rate
FROM __sc GROUP BY 1
""".strip()


_register("quality_calibration", _q_quality_calibration,
          _quality_calibration_oracle())


def _q_budget_select(spark, sf_dir):
    """Token-budget greedy data selection: fill a 12k-token training
    budget with the best LR-quality-scored documents first (rank by
    integer micro-logit DESC, doc_id ASC; keep the maximal prefix whose
    cumulative whitespace-token count fits).  The cumulative sum is
    two-level bucketized (the roc_auc rank pattern) — no corpus-sized
    single-task sort — and every quantity is an exact integer, so the
    selection boundary replays bit-for-bit."""
    from carbonapi_spark.datapipe.sampling import budget_select
    from carbonapi_spark.datapipe.text import (quality_logit_micro,
                                               token_count)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = quality_logit_micro(docs, _LR_WEIGHTS, _LR_BIAS)
    per = scored.join(
        docs.select("doc_id",
                    token_count(F.col("text")).cast("long").alias("__nt")),
        "doc_id")
    return budget_select(per, "logit_micro", 12_000, "__nt")


def _budget_select_oracle() -> str:
    return f"""
WITH {_lr_logit_ctes()},
__n AS (SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text,
                    '[ \\t\\n\\x0B\\f\\r]+'), x -> x != '')) AS BIGINT)
                   AS n_tokens
        FROM documents),
__c AS (SELECT z.doc_id, z.zm, n.n_tokens,
               CAST(sum(n.n_tokens) OVER (
                    ORDER BY z.zm DESC, z.doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cum_tokens
        FROM __zm z JOIN __n n USING (doc_id))
SELECT doc_id, zm AS logit_micro, n_tokens, cum_tokens
FROM __c WHERE cum_tokens <= 12000
""".strip()


_register("budget_select", _q_budget_select, _budget_select_oracle())


def _q_bpe_token_count(spark, sf_dir):
    """Whitespace vs GPT-2-style pre-token counts per doc — the quick
    BPE-cost estimate (merges only split within pre-tokens)."""
    from carbonapi_spark.datapipe.text import bpe_token_count, token_count
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return docs.select("doc_id",
                       token_count(F.col("text")).cast("long")
                       .alias("n_ws_tokens"),
                       bpe_token_count(F.col("text")).cast("long")
                       .alias("n_bpe_tokens"))


_register("bpe_token_count", _q_bpe_token_count, r"""
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '[ \t\n\x0B\f\r]+'), x -> x != ''))
            AS BIGINT) AS n_ws_tokens,
       CAST(len(list_filter(
            regexp_extract_all(text,
              '''(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+|[ \t\n\x0B\f\r]+'),
            x -> trim(x) != '')) AS BIGINT) AS n_bpe_tokens
FROM documents
""".strip())


_TAGLINE = ("this corpus release includes a standard shared legal "
            "disclaimer footer line")


def _q_substr_dedup(spark, sf_dir):
    """Exact-substring dedup (Lee et al. ACL 2022) via k-gram marking:
    every doc_id%5==0 doc gets a shared 12-token tagline appended (both
    sides build the same input); any >=8-token span occurring >=2 times
    corpus-wide — the tagline, plus any genuine repeats — is removed
    from every occurrence."""
    from carbonapi_spark.datapipe.dedup import remove_duplicate_spans
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id",
                    F.concat(F.col("text"),
                             F.when(F.col("doc_id") % 5 == 0,
                                    F.lit(" " + _TAGLINE))
                             .otherwise(F.lit(""))).alias("text")))
    return remove_duplicate_spans(docs, k=8)


_register("substr_dedup", _q_substr_dedup, rf"""
WITH __d AS (SELECT doc_id,
                    text || CASE WHEN doc_id % 5 = 0
                                 THEN ' {_TAGLINE}' ELSE '' END AS text
             FROM documents),
__t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM __d),
__p AS (SELECT doc_id, toks, unnest(range(len(toks))) AS pos FROM __t),
__g AS (SELECT doc_id, pos, toks[pos + 1] AS tok,
               CASE WHEN pos + 8 <= len(toks)
                    THEN array_to_string(toks[pos + 1 : pos + 8], ' ')
               END AS g
        FROM __p),
__dup AS (SELECT g FROM __g WHERE g IS NOT NULL
          GROUP BY g HAVING count(*) >= 2),
__f AS (SELECT doc_id, pos, tok,
               CASE WHEN g IN (SELECT g FROM __dup) THEN 1 ELSE 0 END AS dup
        FROM __g),
__c AS (SELECT doc_id, pos, tok,
               max(dup) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
               AS covered
        FROM __f)
SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
FROM __c WHERE covered = 0 GROUP BY doc_id
""".strip())


def _q_chunk_documents(spark, sf_dir):
    """Context-window chunking: docs split into <=32-token pieces, order
    preserved — stateless projection, no shuffle (plan property)."""
    from carbonapi_spark.datapipe.sampling import chunk_documents
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, max_tokens=32)


_register("chunk_documents", _q_chunk_documents, rf"""
WITH __d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
__c AS (SELECT doc_id, toks, len(toks) AS n,
               unnest(range(CAST(ceil(len(toks) / 32.0) AS INT))) AS chunk_idx
        FROM __d WHERE len(toks) > 0)
SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       CAST(least(n - chunk_idx * 32, 32) AS BIGINT) AS n_tokens,
       array_to_string(toks[chunk_idx * 32 + 1 : chunk_idx * 32 + 32], ' ')
       AS text
FROM __c
""".strip())


def _q_line_dedup(spark, sf_dir):
    """C4-style duplicate-line removal (Raffel et al. 2020 §2.2). The
    synthetic docs are single-line, so a shared boilerplate footer is
    appended first (both sides build the same input); line_dedup must
    strip the footer from every doc and drop fully-boilerplate docs
    (exact-dup texts are themselves shared lines)."""
    from carbonapi_spark.datapipe.text import line_dedup
    docs = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id",
                    F.concat_ws("\n", F.col("text"),
                                F.lit("standard cookie banner"),
                                F.lit("all rights reserved")).alias("text")))
    return line_dedup(docs, min_docs=2)


_register("line_dedup", _q_line_dedup, """
WITH __d AS (SELECT doc_id,
                    text || chr(10) || 'standard cookie banner'
                         || chr(10) || 'all rights reserved' AS text
             FROM documents),
__l AS (SELECT doc_id,
               unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos,
               unnest(string_split(text, chr(10))) AS line
        FROM __d),
__b AS (SELECT line FROM __l GROUP BY line
        HAVING count(DISTINCT doc_id) >= 2)
SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
FROM __l ANTI JOIN __b USING (line)
GROUP BY doc_id
""".strip())


def _q_redact_pii(spark, sf_dir):
    """PII scrub: emails / IPv4s / phone-shaped digit runs replaced with
    typed placeholders. Deterministic synthetic PII is appended per doc
    (both sides build the same input) since the corpus has none."""
    from carbonapi_spark.datapipe.text import redact_pii
    d = F.col("doc_id")
    withpii = (spark.read.parquet(f"{sf_dir}/documents.parquet")
               .select(d, F.concat(
                   F.col("text"),
                   F.lit(" contact u"), d.cast("string"),
                   F.lit("@example"), F.lit(".com from 10.0."),
                   (d % 200).cast("string"), F.lit("."),
                   (d % 250).cast("string"),
                   F.lit(" tel +1 (555) 010-"),
                   F.lpad((d % 10000).cast("string"), 4, "0"))
                   .alias("text")))
    return withpii.select("doc_id", redact_pii(F.col("text")).alias("text"))


_register("redact_pii", _q_redact_pii, r"""
WITH __d AS (SELECT doc_id,
                    text || ' contact u' || CAST(doc_id AS VARCHAR)
                         || '@example' || '.com from 10.0.'
                         || CAST(doc_id % 200 AS VARCHAR) || '.'
                         || CAST(doc_id % 250 AS VARCHAR)
                         || ' tel +1 (555) 010-'
                         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                    AS text
             FROM documents)
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
           '\+?\d[\d \t\n\x0B\f\r().-]{7,}\d', '<PHONE>', 'g') AS text
FROM __d
""".strip())


def _q_sessionize(spark, sf_dir):
    """Gap-based sessionization with the built-in session_window (dynamic
    gap merging in the engine; same expression serves the watermarked
    stream). Oracle replays it as the classic lag-gap-cumsum."""
    from carbonapi_spark.streaming.sessions import sessionize
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sessionize(ev, key_col="user_id", time_col="ts", gap="4 hours")
    return out.withColumn("sum_value", F.round("sum_value", 6))


_register("sessionize", _q_sessionize, """
WITH __e AS (SELECT user_id, ts, value,
                    CASE WHEN ts >= lag(ts) OVER w + INTERVAL 4 HOUR
                              OR lag(ts) OVER w IS NULL
                         THEN 1 ELSE 0 END AS new_s
             FROM events
             WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
__s AS (SELECT user_id, ts, value,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM __e)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
       CAST(floor(epoch(max(ts) + INTERVAL 4 HOUR)) AS BIGINT) AS session_end,
       count(*) AS n_events,
       round(sum(value), 6) AS sum_value
FROM __s GROUP BY user_id, sid
""".strip())


def _q_ppl_buckets(spark, sf_dir):
    """CCNet-style quality partitioning: per-doc cross-entropy under the
    corpus's smoothed unigram LM, ntile'd into head/middle/tail buckets
    (Wenzek et al. 2020; KenLM swaps in without changing the plan)."""
    from carbonapi_spark.datapipe.text import perplexity_buckets
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return perplexity_buckets(docs, buckets=3)


_register("ppl_buckets", _q_ppl_buckets, r"""
WITH __t AS (SELECT doc_id, unnest(list_filter(
                 string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'), x -> x != ''))
                 AS term
             FROM documents),
__tf AS (SELECT term, count(*) AS n FROM __t GROUP BY term),
__tot AS (SELECT sum(n) AS total, count(*) AS vocab FROM __tf),
__lm AS (SELECT term, ln((n + 0.5) / (total + 0.5 * vocab)) AS logp
         FROM __tf CROSS JOIN __tot),
__sc AS (SELECT doc_id, -avg(logp) AS h
         FROM __t JOIN __lm USING (term) GROUP BY doc_id),
__all AS (SELECT d.doc_id,
                 round(coalesce(h, (SELECT max(h) + 1 FROM __sc)), 6)
                 AS cross_entropy
          FROM documents d LEFT JOIN __sc USING (doc_id))
SELECT doc_id, cross_entropy,
       CAST(ntile(3) OVER (ORDER BY cross_entropy, doc_id) AS INTEGER)
       AS bucket
FROM __all
""".strip())


def _q_bigram_ppl(spark, sf_dir):
    """Interpolated-bigram cross-entropy buckets — one n-gram order up
    from `ppl_buckets` toward CCNet's KenLM (Jelinek-Mercer mix of
    add-alpha bigram and unigram components, lam=0.75 so both mixture
    weights are exactly representable in binary for the oracle)."""
    from carbonapi_spark.datapipe.text import bigram_perplexity_buckets
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bigram_perplexity_buckets(docs, buckets=3)


_register("bigram_ppl", _q_bigram_ppl, r"""
WITH __d AS (SELECT doc_id,
                    list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0B\f\r]+'),
                                x -> x != '') AS toks
             FROM documents),
__bi AS (SELECT doc_id,
                unnest(list_transform(range(greatest(len(toks) - 1, 0)),
                                      j -> toks[j + 1] || ' ' || toks[j + 2]))
                AS g
         FROM __d),
__cb AS (SELECT g, count(*) AS nb FROM __bi GROUP BY g),
__cw AS (SELECT split_part(g, ' ', 1) AS w1, sum(nb) AS nw
         FROM __cb GROUP BY 1),
__tf AS (SELECT t AS term, count(*) AS n
         FROM (SELECT unnest(toks) AS t FROM __d) GROUP BY t),
__tot AS (SELECT sum(n) AS total, count(*) AS vocab FROM __tf),
__sc AS (SELECT doc_id,
                -avg(ln(0.75 * ((nb + 0.5) / (nw + 0.5 * vocab))
                        + 0.25 * ((n + 0.5) / (total + 0.5 * vocab)))) AS h
         FROM __bi b
         JOIN __cb USING (g)
         JOIN __cw ON split_part(b.g, ' ', 1) = w1
         JOIN __tf ON split_part(b.g, ' ', 2) = term
         CROSS JOIN __tot
         GROUP BY doc_id),
__all AS (SELECT d.doc_id,
                 round(coalesce(h, (SELECT max(h) + 1 FROM __sc), 0.0), 6)
                 AS cross_entropy
          FROM documents d LEFT JOIN __sc USING (doc_id))
SELECT doc_id, cross_entropy,
       CAST(ntile(3) OVER (ORDER BY cross_entropy, doc_id) AS INTEGER)
       AS bucket
FROM __all
""".strip())


def _q_heavy_trigrams(spark, sf_dir):
    """Boilerplate phrase mining: exact trigram heavy hitters via the
    CMS-pruned two-pass — the n-gram TYPE space is too large to
    aggregate exactly at lake scale, the sketch stays d*w."""
    from carbonapi_spark.datapipe.sketch import heavy_hitters
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return heavy_hitters(docs, threshold=5, ngram=3)


_register("heavy_trigrams", _q_heavy_trigrams, f"""
WITH __d AS (SELECT {_TOKS_SQL} AS toks FROM documents)
SELECT g AS term, CAST(count(*) AS BIGINT) AS cnt
FROM (SELECT unnest(list_transform(range(greatest(len(toks) - 2, 0)),
                    j -> toks[j + 1] || ' ' || toks[j + 2] || ' '
                         || toks[j + 3])) AS g
      FROM __d)
GROUP BY g HAVING count(*) >= 5
""".strip())


def _q_source_kl(spark, sf_dir):
    """Mixture-drift diagnostic: KL(p_source || p_corpus) over token
    distributions, one corpus pass + derived marginals."""
    from carbonapi_spark.datapipe.text import source_kl_divergence
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_kl_divergence(docs)


_register("source_kl", _q_source_kl, f"""
WITH __tok AS (SELECT source, unnest({_TOKS_SQL}) AS term FROM documents),
__gc AS (SELECT source, term, count(*) AS ngt
         FROM __tok GROUP BY source, term),
__ct AS (SELECT term, sum(ngt) AS nt FROM __gc GROUP BY term),
__gt AS (SELECT source, sum(ngt) AS ng FROM __gc GROUP BY source),
__tot AS (SELECT sum(nt) AS n FROM __ct)
SELECT g.source, CAST(max(ng) AS BIGINT) AS n_tokens,
       round(sum((ngt / ng) * ln((ngt / ng) / (nt / n))), 6) AS kl
FROM __gc g JOIN __ct USING (term) JOIN __gt USING (source)
CROSS JOIN __tot
GROUP BY g.source
""".strip())


def _q_js_drift(spark, sf_dir):
    """Symmetric mixture-drift diagnostic: Jensen-Shannon divergence of
    each source's token distribution from the corpus, bounded [0, ln 2]
    so sources of different sizes stay comparable.  Same one-pass
    derived-marginal shape as source_kl; the out-of-support corpus tail
    is the closed form 0.5 ln2 (1 - covered mass), never a second
    vocabulary scan."""
    from carbonapi_spark.datapipe.text import js_divergence
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return js_divergence(docs)


_register("js_drift", _q_js_drift, f"""
WITH __tok AS (SELECT source, unnest({_TOKS_SQL}) AS term FROM documents),
__gc AS (SELECT source, term, count(*) AS ngt
         FROM __tok GROUP BY source, term),
__ct AS (SELECT term, sum(ngt) AS nt FROM __gc GROUP BY term),
__gt AS (SELECT source, sum(ngt) AS ng FROM __gc GROUP BY source),
__tot AS (SELECT sum(nt) AS n FROM __ct)
SELECT g.source, CAST(max(ng) AS BIGINT) AS n_tokens,
       round(sum(0.5 * ((ngt / ng) * ln((ngt / ng) / (((ngt / ng) + (nt / n)) / 2))
                        + (nt / n) * ln((nt / n) / (((ngt / ng) + (nt / n)) / 2))))
             + 0.5 * ln(2) * (1 - sum(nt / n)), 6) AS js
FROM __gc g JOIN __ct USING (term) JOIN __gt USING (source)
CROSS JOIN __tot
GROUP BY g.source
""".strip())


def _q_ivf_kmeans_topk(spark, sf_dir):
    """IVF over a TRAINED coarse quantizer: 2 distributed Lloyd
    iterations (broadcast centroids -> one corpus pass -> k x dim mean
    collect, init = first k vectors by id, coordinates rounded to 6 dp
    per update) then the cell-pruned probe scored by L2.  The oracle
    replays the ENTIRE training loop in SQL (unrolled iterations), not
    just the probe — a wrong mean, tie-break, or metric breaks the
    match.  Measured on sf0.01: recall@10 = 0.94 vs 0.54 for the seeded
    spherical cells at the same (8 cells, nprobe 3) budget — the reason
    trained quantizers exist.  Argmin/argmax replay rests on fp margins
    like the other ANN oracles (assignment gaps >> double noise;
    centroid values pinned by the 6-dp rounding both sides)."""
    from carbonapi_spark.datapipe.similarity import ivf_topk, kmeans_centroids
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_centroids(emb, k=8, iters=2)
    return ivf_topk(emb, emb.where(F.col("vec_id") < 5), k=10, dim=64,
                    centroids=cents, nprobe=3)


def _kmeans_iter_ctes(prev: str, out: str, tag: str, dim: int = 64) -> str:
    """One unrolled Lloyd iteration: assign by argmax(2 e.c - |c|^2)
    (ties -> lowest cell), per-coordinate mean rounded to 6 dp, empty
    cells keep their previous centroid."""
    return f"""
__a{tag} AS (SELECT v.vec_id, v.e, c.cell
         FROM v CROSS JOIN {prev} c
         QUALIFY row_number() OVER (PARTITION BY v.vec_id
             ORDER BY 2 * list_dot_product(v.e, c.emb)
                      - list_dot_product(c.emb, c.emb) DESC, c.cell) = 1),
__u{tag} AS (SELECT cell, i, round(avg(e[i + 1]), 6) AS x
         FROM __a{tag} CROSS JOIN (SELECT unnest(range({dim})) AS i) t
         GROUP BY cell, i),
{out} AS (SELECT p.cell, coalesce(u.emb, p.emb) AS emb
          FROM {prev} p LEFT JOIN
               (SELECT cell, list(x ORDER BY i) AS emb
                FROM __u{tag} GROUP BY cell) u USING (cell))"""


_register("ivf_kmeans_topk", _q_ivf_kmeans_topk, f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings),
__c0 AS (SELECT row_number() OVER (ORDER BY vec_id) AS cell,
                list_transform(e, x -> round(x, 6)) AS emb
         FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)),
{_kmeans_iter_ctes('__c0', '__c1', '1')},
{_kmeans_iter_ctes('__c1', '__c2', '2')},
__asg AS (SELECT v.vec_id AS neighbor_id, v.e AS cv, c.cell
          FROM v CROSS JOIN __c2 c
          QUALIFY row_number() OVER (PARTITION BY v.vec_id
              ORDER BY 2 * list_dot_product(v.e, c.emb)
                       - list_dot_product(c.emb, c.emb) DESC, c.cell) = 1),
__q AS (SELECT v.vec_id AS query_id, v.e AS qv, c.cell
        FROM v CROSS JOIN __c2 c WHERE v.vec_id < 5
        QUALIFY row_number() OVER (PARTITION BY v.vec_id
            ORDER BY 2 * list_dot_product(v.e, c.emb)
                     - list_dot_product(c.emb, c.emb) DESC, c.cell) <= 3),
sims AS (SELECT q.query_id, a.neighbor_id,
                round(CASE WHEN sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(cv, cv)) > 0
                           THEN list_dot_product(qv, cv)
                                / (sqrt(list_dot_product(qv, qv))
                                   * sqrt(list_dot_product(cv, cv))) END, 6)
                AS cos_sim
         FROM __asg a JOIN __q q USING (cell)
         WHERE neighbor_id != query_id)
SELECT query_id, neighbor_id, cos_sim
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rk
      FROM sims)
WHERE rk <= 10
""".strip())


def _q_pq_ivf_residual(spark, sf_dir):
    """Faithful FAISS IVFADC with RESIDUAL coding: k-means cells (the
    replayable 2-iteration Lloyd trainer) and PQ codes over ``e -
    c_cell``, probed with per-(query, cell) residual distance tables.
    Measured same-budget A/B on this corpus (k=8 cells, nprobe 3, m=8,
    ksub=16, no refine): recall@10 raw coding 0.24 -> residual 0.40 with
    trained PQ, 0.32 with these seeded residual-scaled codebooks —
    residuals live in a smaller ball, so the codeword budget goes where
    the data is.  The oracle replays training, assignment, residual
    encode, probe tables, and ADC end-to-end."""
    from carbonapi_spark.datapipe.similarity import (
        ivfpq_topk, kmeans_centroids, pq_codebooks)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_centroids(emb, k=8, iters=2)
    cbs = pq_codebooks(64, 8, 16, 44, scale=0.12)
    return ivfpq_topk(emb, emb.where(F.col("vec_id") < 5), k=10, dim=64,
                      nprobe=3, m=8, ksub=16, centroids=cents,
                      codebooks=cbs, residual=True)


def _residual_ivfpq_oracle(m: int = 8, ksub: int = 16, dsub: int = 8,
                           nprobe: int = 3, topk: int = 10) -> str:
    from carbonapi_spark.datapipe.similarity import pq_codebooks
    cbs = pq_codebooks(m * dsub, m, ksub, 44, scale=0.12)

    def cb_lit(j: int) -> str:
        return "[" + ",".join(
            "[" + ",".join(repr(float(x)) for x in cw) + "]"
            for cw in cbs[j]) + "]"

    def dists(j: int, vec: str) -> str:
        return (f"list_transform({cb_lit(j)}, cw -> list_sum("
                f"list_transform(range(1, {dsub + 1}), i -> "
                f"({vec}[{j * dsub} + i] - cw[i])"
                f" * ({vec}[{j * dsub} + i] - cw[i]))))")

    c_codes = ", ".join(
        f"list_indexof({dists(j, 'r')}, "
        f"list_aggregate({dists(j, 'r')}, 'min')) AS c{j}"
        for j in range(m))
    q_tabs = ",\n             ".join(f"{dists(j, 'r')} AS d{j}"
                                     for j in range(m))
    adc = " + ".join(f"qd.d{j}[c.c{j}]" for j in range(m))
    l2 = ("2 * list_dot_product({v}, c.emb) "
          "- list_dot_product(c.emb, c.emb)")
    resid = "list_transform(range(1, 65), i -> {v}[i] - emb[i])"
    return f"""
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
           FROM embeddings),
__c0 AS (SELECT row_number() OVER (ORDER BY vec_id) AS cell,
                list_transform(e, x -> round(x, 6)) AS emb
         FROM (SELECT * FROM v ORDER BY vec_id LIMIT 8)),
{_kmeans_iter_ctes('__c0', '__c1', '1')},
{_kmeans_iter_ctes('__c1', '__c2', '2')},
__asg AS (SELECT v.vec_id, v.e, c.cell, c.emb
          FROM v CROSS JOIN __c2 c
          QUALIFY row_number() OVER (PARTITION BY v.vec_id
              ORDER BY {l2.format(v='v.e')} DESC, c.cell) = 1),
__cr AS (SELECT vec_id, cell,
                {resid.format(v='e')} AS r
         FROM __asg),
c AS (SELECT vec_id AS neighbor_id, cell, {c_codes} FROM __cr),
__q AS (SELECT v.vec_id AS query_id, v.e AS qv, c.cell, c.emb
        FROM v CROSS JOIN __c2 c WHERE v.vec_id < 5
        QUALIFY row_number() OVER (PARTITION BY v.vec_id
            ORDER BY {l2.format(v='v.e')} DESC, c.cell) <= {nprobe}),
__qr AS (SELECT query_id, cell, {resid.format(v='qv')} AS r FROM __q),
qd AS (SELECT query_id, cell,
             {q_tabs}
       FROM __qr),
adc AS (SELECT qd.query_id, c.neighbor_id,
               round({adc}, 6) AS adc_dist
        FROM c JOIN qd USING (cell)
        WHERE c.neighbor_id != qd.query_id)
SELECT query_id, neighbor_id, adc_dist
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY adc_dist, neighbor_id) AS rk
      FROM adc)
WHERE rk <= {topk}
""".strip()


_register("pq_ivf_residual", _q_pq_ivf_residual, _residual_ivfpq_oracle())


def _q_ivf_cell_stats(spark, sf_dir):
    """Coarse-quantizer balance diagnostic: per-cell population + corpus
    fraction (expected probe cost multiplier = k * sum(frac^2)); the
    check run before committing an IVF layout."""
    from carbonapi_spark.datapipe.similarity import ivf_cell_stats
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return ivf_cell_stats(emb, dim=64, n_centroids=8, seed=43)


def _ivf_cell_stats_oracle() -> str:
    from carbonapi_spark.datapipe.similarity import ivf_centroids
    cents = ivf_centroids(64, 8, 43)
    lits = "[" + ",".join(
        "[" + ",".join(repr(x) for x in c) + "]" for c in cents) + "]"
    return f"""
WITH v AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
a AS (SELECT list_indexof(
          list_transform({lits}, c -> list_dot_product(v, c)),
          list_aggregate(list_transform({lits},
              c -> list_dot_product(v, c)), 'max')) AS cell
      FROM v),
c AS (SELECT cell, count(*) AS n_vectors FROM a GROUP BY cell)
SELECT CAST(cell AS INT) AS cell, n_vectors,
       round(CAST(n_vectors AS DOUBLE) / (SELECT sum(n_vectors) FROM c), 6)
       AS frac
FROM c
""".strip()


_register("ivf_cell_stats", _q_ivf_cell_stats, _ivf_cell_stats_oracle())


def _q_multimodal_features(spark, sf_dir):
    """REAL multimodal decode on the driver scoreboard: doc ids are
    encoded into genuine WAV (stdlib ``wave``) and binary PPM containers
    with id-determined sample/pixel values, then ``media_features``
    sniffs the magic, parses the real container, and computes exact
    integer-sum statistics.  The oracle replays the FEATURES from the
    synthesis arithmetic alone — it never sees the bytes — so any error
    in header layout, int16 framing, raster offsets, or stats arithmetic
    on the Spark side breaks the match.  Audio + image cover both codec
    paths; video stays behind the documented NotImplementedError."""
    from carbonapi_spark.datapipe.multimodal import (
        media_features, synth_media_from_ids)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.where(F.col("doc_id") < 240).select("doc_id")
    return media_features(synth_media_from_ids(ids), strict=True)


_register("multimodal_features", _q_multimodal_features, """
WITH __ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id < 240),
__audio AS (
  SELECT media_id,
         list_transform(range(32 + media_id % 64),
                        j -> ((media_id * 31 + j * 7) % 2048) - 1024) AS s
  FROM __ids WHERE media_id % 2 = 1),
__img AS (
  SELECT media_id, 8 + media_id % 8 AS w, 6 AS h,
         list_transform(range(3 * (8 + media_id % 8) * 6),
                        p -> (media_id * 13 + p) % 251) AS s
  FROM __ids WHERE media_id % 2 = 0)
SELECT media_id, 'audio' AS kind,
       CAST(44 + 2 * len(s) AS BIGINT) AS n_bytes,
       CAST(NULL AS INT) AS width, CAST(NULL AS INT) AS height,
       CAST(len(s) AS INT) AS n_samples, CAST(8000 AS INT) AS sample_rate,
       round(CAST(list_sum(s) AS DOUBLE) / len(s), 6) AS mean_val,
       round(sqrt(list_sum(list_transform(s, x -> CAST(x * x AS DOUBLE)))
                  / len(s)), 6) AS rms
FROM __audio
UNION ALL
SELECT media_id, 'image' AS kind,
       CAST(length('P6' || chr(10) || w || ' ' || h || chr(10) || '255'
                   || chr(10)) + 3 * w * h AS BIGINT) AS n_bytes,
       CAST(w AS INT) AS width, CAST(h AS INT) AS height,
       CAST(NULL AS INT) AS n_samples, CAST(NULL AS INT) AS sample_rate,
       round(CAST(list_sum(s) AS DOUBLE) / len(s), 6) AS mean_val,
       round(sqrt(list_sum(list_transform(s, x -> CAST(x * x AS DOUBLE)))
                  / len(s)), 6) AS rms
FROM __img
""".strip())


def _q_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-25 for the query 'hash join order' — the lexical
    retrieval scoring op (Lucene-default weighting). Only query-term
    occurrences ever shuffle; doc lengths are one projection pass."""
    from carbonapi_spark.datapipe.retrieval import bm25_topk
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_topk(docs, "hash join order", k=25)


def _bm25_ctes(limit: int) -> str:
    """The BM25 top-``limit`` computation as a CTE chain ending in
    ``__cand (doc_id, score)`` — shared by the bm25_topk oracle and the
    MMR rerank oracle (which consumes the candidates)."""
    k1, b = 1.2, 0.75
    return f"""
WITH __d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
__len AS (SELECT doc_id, len(toks) AS dl FROM __d),
__st AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM __len),
__tf AS (SELECT doc_id, t, count(*) AS tf
         FROM (SELECT doc_id, unnest(toks) AS t FROM __d)
         WHERE t IN ('hash', 'join', 'order') GROUP BY doc_id, t),
__df AS (SELECT t, count(*) AS dfq FROM __tf GROUP BY t),
__idf AS (SELECT t, ln(1.0 + (n - dfq + 0.5) / (dfq + 0.5)) AS idf
          FROM __df CROSS JOIN __st),
__cand AS (
  SELECT doc_id,
         round(sum(idf * tf * {k1 + 1.0!r}
                   / (tf + {k1!r} * ({1.0 - b!r} + {b!r} * dl
                                     / (CAST(sumdl AS DOUBLE) / n)))), 6)
             AS score
  FROM __tf JOIN __idf USING (t) JOIN __len USING (doc_id)
       CROSS JOIN __st
  GROUP BY doc_id ORDER BY score DESC, doc_id LIMIT {limit})
""".strip()


_register("bm25_topk", _q_bm25_topk,
          _bm25_ctes(25) + "\nSELECT doc_id, score FROM __cand")


def _q_text_compact_probe(spark, sf_dir):
    """BM25 corruption-repair end-to-end (VERDICT r13 #2c, the one
    index where a replayed append CORRUPTS answers rather than just
    inflating storage: duplicate postings double tf, the doubled
    stats shift idf/avgdl for every query).  Build on half the
    documents, append the rest, append the SAME delta again (the
    at-least-once replay), compact_text_index, then query — the
    result must equal clean single-copy BM25 over the union, which is
    exactly what the oracle computes (the scoring the reference
    delegates to its backends, zipper/types/interface.go:29-30, is
    owned here)."""
    import tempfile

    from carbonapi_spark.datapipe.retrieval import (
        append_text_index, bm25_query_index, compact_text_index,
        write_text_index)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with tempfile.TemporaryDirectory() as tmp:
        p = f"{tmp}/tix"
        write_text_index(docs.where(F.col("doc_id") % 2 == 0), p,
                         n_buckets=16)
        delta = docs.where(F.col("doc_id") % 2 == 1)
        append_text_index(delta, p)
        append_text_index(delta, p)     # the replayed epoch
        stats = compact_text_index(spark, p)
        assert stats["rows_after"] < stats["rows_before"]
        out = bm25_query_index(spark, p, "hash join order", k=25)
        rows = out.collect()
        schema = out.schema
    return _local_df(spark, rows, schema)


_register("text_compact_probe", _q_text_compact_probe,
          _bm25_ctes(25) + "\nSELECT doc_id, score FROM __cand")


_HN_QUERIES = [(0, "hash join order"), (1, "query plan cost"),
               (2, "hash table scan")]


def _q_hard_negatives(spark, sf_dir):
    """BM25 hard-negative mining (DPR, Karpukhin 2020): per query the
    top-15 lexically-matching documents NOT judged relevant.  The
    3-query batch is scored in ONE corpus pass (union-vocab explode
    filter + broadcast (query,term) fan-out); qrels are the arithmetic
    rule doc_id %% 7 == query_id, anti-joined broadcast."""
    from carbonapi_spark.datapipe.retrieval import hard_negatives
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    truth = docs.select((F.col("doc_id") % 7).cast("int")
                        .alias("query_id"), "doc_id")
    return hard_negatives(docs, _HN_QUERIES, truth, k=15)


def _hard_negatives_oracle() -> str:
    from carbonapi_spark.datapipe.retrieval import _query_terms
    k1, b = 1.2, 0.75
    pairs = sorted({(qid, t) for qid, q in _HN_QUERIES
                    for t in _query_terms(q)})
    vocab = sorted({t for _, t in pairs})
    vals = ", ".join(f"({qid}, '{t}')" for qid, t in pairs)
    in_list = ", ".join(f"'{t}'" for t in vocab)
    return f"""
WITH __d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
__len AS (SELECT doc_id, len(toks) AS dl FROM __d),
__st AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM __len),
__tf AS (SELECT doc_id, t, count(*) AS tf
         FROM (SELECT doc_id, unnest(toks) AS t FROM __d)
         WHERE t IN ({in_list}) GROUP BY doc_id, t),
__df AS (SELECT t, count(*) AS dfq FROM __tf GROUP BY t),
__idf AS (SELECT t, ln(1.0 + (n - dfq + 0.5) / (dfq + 0.5)) AS idf
          FROM __df CROSS JOIN __st),
__qt(query_id, t) AS (VALUES {vals}),
__sc AS (
  SELECT query_id, doc_id,
         round(sum(idf * tf * {k1 + 1.0!r}
                   / (tf + {k1!r} * ({1.0 - b!r} + {b!r} * dl
                                     / (CAST(sumdl AS DOUBLE) / n)))), 6)
             AS score
  FROM __tf JOIN __qt USING (t) JOIN __idf USING (t)
       JOIN __len USING (doc_id) CROSS JOIN __st
  GROUP BY query_id, doc_id)
SELECT CAST(query_id AS INT) AS query_id, doc_id, score,
       CAST(rk AS INT) AS rank
FROM (SELECT query_id, doc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, doc_id) AS rk
      FROM __sc WHERE NOT (doc_id % 7 = query_id))
WHERE rk <= 15
""".strip()


_register("hard_negatives", _q_hard_negatives, _hard_negatives_oracle())


def _q_mmr_rerank(spark, sf_dir):
    """Retrieval-stack composition on the scoreboard: BM25 top-25
    candidates for 'hash join order', diversified down to 10 with MMR
    (lambda=0.7) over the real embeddings table — the greedy selection
    replays exactly because every compared value is 6-dp-rounded with a
    lowest-id tie-break."""
    from carbonapi_spark.datapipe.retrieval import bm25_topk, mmr_rerank
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
           .select(F.col("vec_id").alias("doc_id"), "embedding"))
    cand = bm25_topk(docs, "hash join order", k=25)
    return mmr_rerank(cand, emb, n=10, lam=0.7)


def _mmr_oracle() -> str:
    lam = 0.7
    steps = []
    for i in range(2, 11):
        steps.append(f"""
__sc{i} AS (SELECT c.doc_id,
                   round(CAST({lam!r} AS DOUBLE) * c.score
                         - CAST({1.0 - lam!r} AS DOUBLE) * max(s.sim), 6)
                       AS v
            FROM __cv c
            JOIN __ss s ON s.ia = c.doc_id
            JOIN __sel{i - 1} q ON s.ib = q.doc_id
            WHERE c.doc_id NOT IN (SELECT doc_id FROM __sel{i - 1})
            GROUP BY c.doc_id, c.score),
__pick{i} AS (SELECT {i} AS rank, doc_id, v FROM __sc{i}
              ORDER BY v DESC, doc_id LIMIT 1),
__sel{i} AS MATERIALIZED (SELECT * FROM __sel{i - 1}
             UNION ALL SELECT * FROM __pick{i})""".strip())
    return (_bm25_ctes(25) + ",\n" + f"""
__cv AS MATERIALIZED (SELECT c.doc_id, c.score, e.embedding::DOUBLE[] AS v
         FROM __cand c JOIN embeddings e ON e.vec_id = c.doc_id),
__s AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
               round(list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v))), 6) AS sim
        FROM __cv a JOIN __cv b ON a.doc_id < b.doc_id),
__ss AS MATERIALIZED (SELECT ia, ib, sim FROM __s
         UNION ALL SELECT ib, ia, sim FROM __s),
__sc1 AS (SELECT doc_id, round(CAST({lam!r} AS DOUBLE) * score, 6) AS v
          FROM __cv),
__sel1 AS MATERIALIZED (SELECT 1 AS rank, doc_id, v FROM __sc1
           ORDER BY v DESC, doc_id LIMIT 1),
""".strip() + "\n" + ",\n".join(steps) + "\n"
            + "SELECT CAST(rank AS INT) AS rank, doc_id, "
              "v AS mmr_score FROM __sel10")


_register("mmr_rerank", _q_mmr_rerank, _mmr_oracle())


def _q_bpe_merges(spark, sf_dir):
    """BPE tokenizer training (Sennrich 2016): the first 12 merges
    learned from the corpus word-frequency table.  One corpus pass, then
    vocabulary-sized iterations; every quantity is an exact integer or
    string, so training replays bit-for-bit."""
    from carbonapi_spark.datapipe.bpe import bpe_train
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_train(docs, n_merges=12)


def _bpe_oracle(n_merges: int = 12) -> str:
    sep = "chr(31)"
    ctes = [f"""
__w1 AS MATERIALIZED (
  SELECT word, cnt, {_sym_init_sql('word')} AS sym
  FROM (SELECT tok AS word, count(*) AS cnt
        FROM {_BPE_TOKS_SQL} GROUP BY 1))""".strip()]
    for i in range(1, n_merges + 1):
        ctes.append(f"""
__p{i} AS MATERIALIZED (
  SELECT string_split(p, {sep})[1] AS lhs,
         string_split(p, {sep})[2] AS rhs, sum(cnt) AS n
  FROM (SELECT cnt,
               unnest(list_transform(range(greatest(len(sl) - 1, 0)),
                                     j -> sl[j + 1] || {sep} || sl[j + 2]))
                   AS p
        FROM (SELECT cnt, list_filter(string_split(sym, {sep}),
                                      x -> x != '') AS sl
              FROM __w{i}))
  GROUP BY 1, 2),
__b{i} AS MATERIALIZED (SELECT lhs, rhs, n FROM __p{i}
                        ORDER BY n DESC, lhs, rhs LIMIT 1),
__w{i + 1} AS MATERIALIZED (
  SELECT word, cnt,
         {_merge_step_sql('sym', 'b.lhs', 'b.rhs')} AS sym
  FROM __w{i}, __b{i} b)""".strip())
    finals = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, lhs, rhs, lhs || rhs AS merged, "
        f"n AS pair_count FROM __b{i}" for i in range(1, n_merges + 1))
    # CAST: DuckDB sum(BIGINT) is HUGEINT (int128); uncast it survives
    # fetchall() comparison (Python ints both sides) but converts to
    # float64 under .df()/decimal128 under .arrow() — the r07-r10
    # driver hash failures' root cause (0/43 green oracles shipped a
    # HUGEINT column; 7/7 red ones did).  Every aggregate the driver
    # hashes must leave the query as BIGINT or DOUBLE.
    return ("WITH " + ",\n".join(ctes) + "\n"
            + f"SELECT CAST(step AS INT) AS step, lhs, rhs, merged, "
              f"CAST(pair_count AS BIGINT) AS pair_count "
              f"FROM ({finals}) ORDER BY step")


_register("bpe_merges", _q_bpe_merges, _bpe_oracle())


def _q_bpe_word_counts(spark, sf_dir):
    """The ONE corpus pass of BPE/WordPiece training in isolation —
    (word, cnt) over the printable-ASCII type universe, pure strings
    and exact integers.  A driver-facing BISECTION entry: if this row
    is green while a tokenizer entry fails, the divergence lives in the
    merge fold replay, not the token universe (and vice versa)."""
    from carbonapi_spark.datapipe.bpe import word_counts
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return word_counts(docs)


_register("bpe_word_counts", _q_bpe_word_counts, f"""
SELECT tok AS word, count(*) AS cnt
FROM {_BPE_TOKS_SQL}
GROUP BY 1
""".strip())


def _q_wordpiece_merges(spark, sf_dir):
    """WordPiece training (Schuster & Nakajima 2012, the BERT
    tokenizer): merges ranked by likelihood score count(l,r) /
    (count(l)*count(r)) instead of raw pair count.  Same one-corpus-pass
    / vocab-sized-iteration shape as bpe_merges; the score is one IEEE
    division of exact int64 counts, so the whole training loop replays
    bit-for-bit."""
    from carbonapi_spark.datapipe.bpe import wordpiece_train
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return wordpiece_train(docs, n_merges=10)


def _wordpiece_oracle(n_merges: int = 10) -> str:
    sep = "chr(31)"
    ctes = [f"""
__w1 AS MATERIALIZED (
  SELECT word, cnt, {_sym_init_sql('word')} AS sym
  FROM (SELECT tok AS word, count(*) AS cnt
        FROM {_BPE_TOKS_SQL} GROUP BY 1))""".strip()]
    for i in range(1, n_merges + 1):
        ctes.append(f"""
__s{i} AS MATERIALIZED (
  SELECT s, sum(cnt) AS ns
  FROM (SELECT cnt, unnest(list_filter(string_split(sym, {sep}),
                                       x -> x != '')) AS s
        FROM __w{i})
  GROUP BY s),
__p{i} AS MATERIALIZED (
  SELECT string_split(p, {sep})[1] AS lhs,
         string_split(p, {sep})[2] AS rhs, sum(cnt) AS n
  FROM (SELECT cnt,
               unnest(list_transform(range(greatest(len(sl) - 1, 0)),
                                     j -> sl[j + 1] || {sep} || sl[j + 2]))
                   AS p
        FROM (SELECT cnt, list_filter(string_split(sym, {sep}),
                                      x -> x != '') AS sl
              FROM __w{i}))
  GROUP BY 1, 2),
__b{i} AS MATERIALIZED (
  SELECT p.lhs, p.rhs, p.n,
         CAST(p.n AS DOUBLE) / (CAST(l.ns AS DOUBLE)
                                * CAST(r.ns AS DOUBLE)) AS sc
  FROM __p{i} p JOIN __s{i} l ON l.s = p.lhs
       JOIN __s{i} r ON r.s = p.rhs
  ORDER BY sc DESC, p.lhs, p.rhs LIMIT 1),
__w{i + 1} AS MATERIALIZED (
  SELECT word, cnt,
         {_merge_step_sql('sym', 'b.lhs', 'b.rhs')} AS sym
  FROM __w{i}, __b{i} b)""".strip())
    finals = "\nUNION ALL\n".join(
        f"SELECT {i} AS step, lhs, rhs, lhs || rhs AS merged, "
        f"n AS pair_count, sc AS score FROM __b{i}"
        for i in range(1, n_merges + 1))
    # CAST(pair_count): HUGEINT -> BIGINT, see _bpe_oracle
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "SELECT CAST(step AS INT) AS step, lhs, rhs, merged, "
              "CAST(pair_count AS BIGINT) AS pair_count, score "
              "FROM ({}) ORDER BY step".format(finals))


_register("wordpiece_merges", _q_wordpiece_merges, _wordpiece_oracle())


def _q_wordpiece_encode(spark, sf_dir):
    """WordPiece INFERENCE on the scoreboard: train 8 merges, then
    greedy longest-match-first segmentation (BERT's
    WordpieceTokenizer) of every word TYPE under the trained vocab —
    continuation pieces ##-prefixed.  The oracle replays training AND
    the encode fold end to end; the longest match is found dynamically
    (filter prefix-matching vocab entries, reduce to the longest), so
    the same expression runs against the SQL-replayed vocabulary."""
    from carbonapi_spark.datapipe.bpe import (_wp_pieces, word_counts,
                                              wordpiece_train)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = [r["merged"]
             for r in wordpiece_train(docs, n_merges=8).collect()]
    types = word_counts(docs).select("word")
    return (types
            .select("word", _wp_pieces(F.col("word"), vocab)
                    .alias("__p"))
            .select("word",
                    F.array_join("__p", " ").alias("segmentation"),
                    F.size("__p").cast("long").alias("n_pieces")))


def _wordpiece_encode_oracle(n_merges: int = 8) -> str:
    sep = "chr(31)"
    train = _wordpiece_oracle(n_merges)
    chain = train[:train.rindex("SELECT CAST(step AS INT)")].rstrip()
    assert chain.startswith("WITH ")
    # the greedy per-word encode loop is a RECURSIVE CTE (stable in
    # every DuckDB release), not a list_reduce fold: each iteration
    # advances every unfinished word by one piece; finished words fall
    # out of the working set (each consumes >= 1 char, so it
    # terminates).  The vocab list is pre-sorted longest-first, making
    # the FIRST prefix match the longest (two equal-length prefixes of
    # one string are equal) — no fold needed to select it.
    chain = "WITH RECURSIVE " + chain[len("WITH "):]
    vocab_union = "\nUNION ALL\n".join(
        f"SELECT lhs || rhs AS m FROM __b{i}"
        for i in range(1, n_merges + 1))
    rem = f"substr(acc, 1, instr(acc, {sep}) - 1)"
    best = (f"coalesce(list_filter(v.vb, "
            f"p -> substr({rem}, 1, length(p)) = p)[1], '')")
    piece = (f"CASE WHEN {best} = '' THEN substr({rem}, 1, 1) "
             f"ELSE {best} END")
    rendered = (f"CASE WHEN length({rem}) = length(e.word) THEN {piece} "
                f"ELSE '##' || {piece} END")
    rest = f"substr(acc, instr(acc, {sep}) + 1)"
    return chain + f""",
__vocab AS MATERIALIZED (
  SELECT list(m ORDER BY length(m) DESC, m) AS vb FROM ({vocab_union})),
__types AS MATERIALIZED (SELECT DISTINCT word FROM __w1),
__encr AS (
  SELECT word, word || {sep} AS acc FROM __types
  UNION ALL
  SELECT e.word,
         substr({rem}, length({piece}) + 1) || {sep}
           || CASE WHEN {rest} = '' THEN {rendered}
                   ELSE {rest} || {sep} || {rendered} END AS acc
  FROM __encr e, __vocab v
  WHERE instr(acc, {sep}) != 1),
__enc AS (SELECT word, acc FROM __encr WHERE instr(acc, {sep}) = 1)
SELECT word, replace(substr(acc, 2), {sep}, ' ') AS segmentation,
       CAST(len(string_split(substr(acc, 2), {sep})) AS BIGINT)
           AS n_pieces
FROM __enc
"""


_register("wordpiece_encode", _q_wordpiece_encode,
          _wordpiece_encode_oracle(8))


def _q_wordpiece_fertility(spark, sf_dir):
    """WordPiece fertility report — the BERT-side twin of
    ``bpe_fertility``, completing the tokenizer matrix (train / encode /
    fertility for both algorithms): train 8 merges, segment the TYPE
    table once with the greedy longest-match fold, join piece counts
    onto per-doc occurrence counts.  The corpus never runs through the
    encode fold."""
    from carbonapi_spark.datapipe.bpe import (_wp_pieces, wordpiece_train, ascii_word as __ascii_word)
    from carbonapi_spark.datapipe.text import tokens as _tok
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    vocab = [r["merged"]
             for r in wordpiece_train(docs, n_merges=8).collect()]
    occ = (docs.select("doc_id",
                       F.explode(_tok(F.col("text"))).alias("token"))
           .where(__ascii_word(F.col("token")))
           .select("doc_id", F.lower(F.col("token")).alias("token"))
           .groupBy("doc_id", "token")
           .agg(F.count(F.lit(1)).alias("__cnt")))
    types = occ.select(F.col("token").alias("t")).distinct()
    sizes = types.select(F.col("t").alias("token"),
                         F.size(_wp_pieces(F.col("t"), vocab))
                         .alias("__np"))
    return (occ.join(F.broadcast(sizes), "token")
            .groupBy("doc_id")
            .agg(F.sum("__cnt").alias("n_tokens"),
                 F.sum(F.col("__cnt") * F.col("__np")).alias("n_pieces"))
            .select("doc_id", "n_tokens", "n_pieces",
                    (F.col("n_pieces").cast("double")
                     / F.col("n_tokens")).alias("fertility")))


def _wordpiece_fertility_oracle(n_merges: int = 8) -> str:
    enc = _wordpiece_encode_oracle(n_merges)
    chain = enc[:enc.rindex("SELECT word, replace")].rstrip()
    assert chain.endswith(")")
    sep = "chr(31)"
    return chain + f""",
__occ AS MATERIALIZED (
  SELECT doc_id, tok, count(*) AS cnt
  FROM {_BPE_TOKS_SQL}
  GROUP BY doc_id, tok)
SELECT o.doc_id, CAST(sum(o.cnt) AS BIGINT) AS n_tokens,
       CAST(sum(o.cnt * len(string_split(substr(e.acc, 2), {sep})))
            AS BIGINT) AS n_pieces,
       CAST(sum(o.cnt * len(string_split(substr(e.acc, 2),
                                         {sep}))) AS DOUBLE)
           / sum(o.cnt) AS fertility
FROM __occ o JOIN __enc e ON e.word = o.tok GROUP BY o.doc_id
"""


_register("wordpiece_fertility", _q_wordpiece_fertility,
          _wordpiece_fertility_oracle(8))


def _q_bpe_fertility(spark, sf_dir):
    """Tokenizer fertility report: train 8 BPE merges, encode EVERY
    corpus token with them, and report pieces-per-token per document —
    the tokenizer-cost diagnostic, with training AND encoding replayed
    end to end in the oracle."""
    from carbonapi_spark.datapipe.bpe import (bpe_encode, bpe_train,
                                              ascii_word as __ascii_word)
    from carbonapi_spark.datapipe.text import tokens as _tok
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = [(r["lhs"], r["rhs"])
              for r in bpe_train(docs, n_merges=8).collect()]
    # identical tokens segment identically: encode the (vocab-sized)
    # TYPE table once and join piece counts back onto the per-doc
    # occurrence counts — the corpus never runs through the fold chain
    occ = (docs.select("doc_id",
                       F.explode(_tok(F.col("text"))).alias("token"))
           .where(__ascii_word(F.col("token")))
           .select("doc_id", F.lower(F.col("token")).alias("token"))
           .groupBy("doc_id", "token")
           .agg(F.count(F.lit(1)).alias("__cnt")))
    types = occ.select(F.col("token").alias("t")).distinct()
    sizes = (bpe_encode(types, merges, text_col="t", id_col="t")
             .select(F.col("t").alias("token"),
                     F.size("pieces").alias("__np")))
    return (occ.join(F.broadcast(sizes), "token")
            .groupBy("doc_id")
            .agg(F.sum("__cnt").alias("n_tokens"),
                 F.sum(F.col("__cnt") * F.col("__np")).alias("n_pieces"))
            .select("doc_id", "n_tokens", "n_pieces",
                    (F.col("n_pieces").cast("double")
                     / F.col("n_tokens")).alias("fertility")))


def _bpe_fertility_oracle(n_merges: int = 12) -> str:
    sep = "chr(31)"
    train = _bpe_oracle(n_merges)
    # keep the training CTE chain, swap the final merge-table SELECT
    # for the corpus-wide encode: apply each learned pair's fold to
    # every token's symbol string, in learned order
    chain = train[:train.rindex("SELECT CAST(step AS INT)")].rstrip()
    assert chain.endswith(",") is False
    folds = []
    for i in range(1, n_merges + 1):
        folds.append(f"""
__t{i} AS MATERIALIZED (
  SELECT tok, {_merge_step_sql('sym', 'b.lhs', 'b.rhs')} AS sym
  FROM __t{i - 1}, __b{i} b)""".strip())
    return (chain + ",\n" + f"""
__occ AS MATERIALIZED (
  SELECT doc_id, tok, count(*) AS cnt
  FROM {_BPE_TOKS_SQL}
  GROUP BY doc_id, tok),
__t0 AS MATERIALIZED (
  SELECT tok, {_sym_init_sql('tok')} AS sym
  FROM (SELECT DISTINCT tok FROM __occ)),
""".strip() + "\n" + ",\n".join(folds) + f"""
SELECT o.doc_id, CAST(sum(o.cnt) AS BIGINT) AS n_tokens,
       CAST(sum(o.cnt * len(list_filter(string_split(t.sym, {sep}),
                                        x -> x != ''))) AS BIGINT)
           AS n_pieces,
       CAST(sum(o.cnt * len(list_filter(string_split(t.sym, {sep}),
                                        x -> x != ''))) AS DOUBLE)
           / sum(o.cnt) AS fertility
FROM __occ o JOIN __t{n_merges} t USING (tok) GROUP BY o.doc_id
""")


_register("bpe_fertility", _q_bpe_fertility, _bpe_fertility_oracle(8))


def _q_rrf_fuse(spark, sf_dir):
    """Hybrid retrieval on the scoreboard: the BM25 lexical top-25 for
    'hash join order' fused with the dense cosine top-25 around the
    vec_id-0 embedding via Reciprocal Rank Fusion — rank-only
    combination, no score calibration."""
    from carbonapi_spark.datapipe.retrieval import bm25_topk, rrf_fuse
    from carbonapi_spark.datapipe.similarity import brute_force_topk
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    lex = bm25_topk(docs, "hash join order", k=25)
    dense = (brute_force_topk(emb, emb.where(F.col("vec_id") == 0), k=25)
             .select(F.col("neighbor_id").alias("doc_id"),
                     F.col("cos_sim").alias("score")))
    return rrf_fuse([lex, dense], k=60, n=15)


def _rrf_oracle() -> str:
    return _bm25_ctes(25) + """,
__dense AS (
  SELECT neighbor_id AS doc_id, cos_sim AS score FROM (
    SELECT c.vec_id AS neighbor_id,
           round(list_dot_product(q.qv, c.cv)
                 / (sqrt(list_dot_product(q.qv, q.qv))
                    * sqrt(list_dot_product(c.cv, c.cv))), 6) AS cos_sim
    FROM (SELECT embedding::DOUBLE[] AS qv FROM embeddings
          WHERE vec_id = 0) q,
         (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
          WHERE vec_id != 0) c)
  ORDER BY cos_sim DESC, neighbor_id LIMIT 25),
__r1 AS (SELECT doc_id,
                1.0 / (60 + row_number()
                       OVER (ORDER BY score DESC, doc_id)) AS rr
         FROM __cand),
__r2 AS (SELECT doc_id,
                1.0 / (60 + row_number()
                       OVER (ORDER BY score DESC, doc_id)) AS rr
         FROM __dense),
__all AS (SELECT * FROM __r1 UNION ALL SELECT * FROM __r2)
SELECT doc_id, round(sum(rr), 6) AS rrf_score,
       count(*) AS n_lists
FROM __all GROUP BY doc_id
ORDER BY rrf_score DESC, doc_id LIMIT 15"""


_register("rrf_fuse", _q_rrf_fuse, _rrf_oracle())


def _q_ann_quality(spark, sf_dir):
    """In-engine retrieval eval: recall@10 and nDCG@10 of the IVF probe
    against the brute-force ground truth, per query — the recall
    numbers SCALE.md reports, produced (and value-checked) inside the
    engine itself."""
    from carbonapi_spark.datapipe.retrieval import ranking_metrics
    return ranking_metrics(_q_ivf_topk(spark, sf_dir),
                           _q_ann_topk(spark, sf_dir), k=10)


def _ann_quality_oracle() -> str:
    truth = ORACLES["ann_topk"]
    results = ORACLES["ivf_topk"]
    return f"""
WITH __res AS MATERIALIZED (SELECT * FROM ({results})),
__tru AS MATERIALIZED (SELECT * FROM ({truth})),
__rk AS (SELECT query_id, neighbor_id,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id)
                    AS rk
         FROM __res),
__tc AS (SELECT query_id, count(*) AS n_truth FROM __tru
         GROUP BY query_id),
__j AS (SELECT r.query_id, r.rk,
               CASE WHEN t.neighbor_id IS NOT NULL THEN 1 ELSE 0 END
                   AS rel
        FROM __rk r LEFT JOIN __tru t
             ON r.query_id = t.query_id
            AND r.neighbor_id = t.neighbor_id
        WHERE r.rk <= 10),
__pq AS (SELECT query_id, sum(rel) AS hits,
                sum(CASE WHEN rel = 1
                         THEN 1.0 / log2(rk + 1) ELSE 0.0 END) AS dcg
         FROM __j GROUP BY query_id)
SELECT t.query_id, t.n_truth,
       CAST(coalesce(p.hits, 0) AS BIGINT) AS hits,
       round(coalesce(p.hits, 0) / t.n_truth, 6) AS recall,
       round(coalesce(p.dcg, 0.0) / list_reduce(
           list_prepend(0.0, list_transform(
               range(1, least(t.n_truth, 10) + 1),
               i -> 1.0 / log2(CAST(i AS DOUBLE) + 1))),
           (acc, x) -> acc + x), 6) AS ndcg
FROM __tc t LEFT JOIN __pq p USING (query_id)
""".strip()


_register("ann_quality", _q_ann_quality, _ann_quality_oracle())


_EV_SEC_CTE = ("__e AS (SELECT user_id, event_type, event_id, "
               "CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events)")


def _events_sec(spark, sf_dir):
    from carbonapi_spark.sources.testdata import epoch_seconds, read_events
    ev = read_events(spark, sf_dir)
    return ev.select("user_id", "event_type", "event_id",
                     epoch_seconds(ev).alias("sec"))


def _q_funnel(spark, sf_dir):
    """Ordered funnel view -> click -> purchase within 7 days of the
    first view: ONE event scan, one user-keyed shuffle, the K-step
    greedy state machine folded per user (each step strictly after the
    previous, earliest-completion)."""
    from carbonapi_spark.datapipe.events import funnel
    return funnel(_events_sec(spark, sf_dir),
                  ["view", "click", "purchase"], within_s=7 * 86400)


_register("funnel_conv", _q_funnel, f"""
WITH {_EV_SEC_CTE},
s1 AS (SELECT user_id, min(sec) AS t1 FROM __e
       WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(sec) AS t2, any_value(t1) AS t1
       FROM __e e JOIN s1 USING (user_id)
       WHERE event_type = 'click' AND sec > t1
         AND sec <= t1 + 604800
       GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(sec) AS t3
       FROM __e e JOIN s2 USING (user_id)
       WHERE event_type = 'purchase' AND sec > t2
         AND sec <= t1 + 604800
       GROUP BY e.user_id),
n AS (SELECT (SELECT count(*) FROM s1) AS n1,
             (SELECT count(*) FROM s2) AS n2,
             (SELECT count(*) FROM s3) AS n3)
SELECT 1 AS step, 'view' AS event_type, n1 AS n_users,
       round(CAST(n1 AS DOUBLE) / n1, 6) AS conversion FROM n
UNION ALL
SELECT 2, 'click', n2, round(CAST(n2 AS DOUBLE) / n1, 6) FROM n
UNION ALL
SELECT 3, 'purchase', n3, round(CAST(n3 AS DOUBLE) / n1, 6) FROM n
""".strip())


def _q_cohort_retention(spark, sf_dir):
    """Weekly retention triangle: cohort by first-event week, cell
    (cohort, offset) counts members active that many weeks later."""
    from carbonapi_spark.datapipe.events import cohort_retention
    return cohort_retention(_events_sec(spark, sf_dir))


_register("cohort_retention", _q_cohort_retention, f"""
WITH {_EV_SEC_CTE},
__f AS (SELECT user_id, min(sec // 604800) AS cohort FROM __e
        GROUP BY user_id),
__a AS (SELECT DISTINCT user_id, sec // 604800 AS p FROM __e),
__s AS (SELECT cohort, count(*) AS size FROM __f GROUP BY cohort)
SELECT f.cohort AS cohort_period, a.p - f.cohort AS period_offset,
       count(*) AS n_users,
       round(CAST(count(*) AS DOUBLE) / any_value(s.size), 6)
           AS retention
FROM __a a JOIN __f f USING (user_id) JOIN __s s ON f.cohort = s.cohort
GROUP BY f.cohort, a.p - f.cohort
""".strip())


def _q_event_transitions(spark, sf_dir):
    """First-order Markov transition counts between consecutive events
    per user, last event -> '__end__'."""
    from carbonapi_spark.datapipe.events import event_transitions
    return event_transitions(_events_sec(spark, sf_dir))


_register("event_transitions", _q_event_transitions, f"""
WITH {_EV_SEC_CTE},
__n AS (SELECT event_type,
               coalesce(lead(event_type) OVER (PARTITION BY user_id
                                               ORDER BY sec, event_id),
                        '__end__') AS next_type
        FROM __e)
SELECT event_type, next_type, count(*) AS n
FROM __n GROUP BY event_type, next_type
""".strip())


def _q_attribution(spark, sf_dir):
    """Single-touch attribution, both classic models on one scoreboard
    row: purchases credited to the user's last / first preceding
    view-or-click within a 7-day lookback ('__none__' otherwise).  ONE
    event pass computes both carried touches over the same
    user-partitioned window — the oracle's own shape (running
    ``attribution`` per model paid the dominant scan+sort twice)."""
    from carbonapi_spark.datapipe.events import attribution_models
    ev = _events_sec(spark, sf_dir)
    return attribution_models(ev, "purchase", ["view", "click"],
                              ("last", "first"), lookback_s=7 * 86400)


_register("attribution", _q_attribution, f"""
WITH {_EV_SEC_CTE},
__w AS (
  SELECT user_id, event_type, sec,
         last_value(CASE WHEN event_type IN ('view', 'click')
                         THEN sec END IGNORE NULLS)
           OVER u AS lts,
         last_value(CASE WHEN event_type IN ('view', 'click')
                         THEN event_type END IGNORE NULLS)
           OVER u AS lty,
         first_value(CASE WHEN event_type IN ('view', 'click')
                          THEN sec END IGNORE NULLS)
           OVER u AS fts,
         first_value(CASE WHEN event_type IN ('view', 'click')
                          THEN event_type END IGNORE NULLS)
           OVER u AS fty
  FROM __e
  WINDOW u AS (PARTITION BY user_id ORDER BY sec, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
__conv AS (SELECT * FROM __w WHERE event_type = 'purchase')
SELECT 'last' AS model,
       coalesce(CASE WHEN sec - lts <= 604800 THEN lty END, '__none__')
           AS channel,
       count(*) AS n_conversions
FROM __conv GROUP BY 2
UNION ALL
SELECT 'first',
       coalesce(CASE WHEN sec - fts <= 604800 THEN fty END, '__none__'),
       count(*)
FROM __conv GROUP BY 2
""".strip())


def _q_stream_attribution_replay(spark, sf_dir):
    """STREAMING last-touch attribution on the scoreboard: the events
    table replayed through ``stream_attribution``'s
    applyInPandasWithState kernel (one (ts, type) pair of state per
    user) as an availableNow file stream.  The kernel sorts each
    user's arrivals by (sec, event_id) inside the batch — the batch
    window's exact order — so a whole-table single-batch replay equals
    batch ``attribution`` exactly, which is what the oracle checks."""
    import tempfile

    from carbonapi_spark.sources.testdata import epoch_seconds
    from carbonapi_spark.streaming.stateful import stream_attribution
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    ev = stream.select("user_id", "event_type", "event_id",
                       epoch_seconds(stream).alias("sec"))
    out = stream_attribution(ev, "purchase", ["view", "click"],
                             model="last", lookback_s=7 * 86400)
    counts: dict = {}

    def sink(bdf, _bid):
        for r in bdf.groupBy("channel").count().collect():
            counts[r["channel"]] = counts.get(r["channel"], 0) \
                + int(r["count"])

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (out.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return _local_df(spark, 
        sorted(counts.items()) or [], "channel STRING, n_conversions LONG")


_register("stream_attribution_replay", _q_stream_attribution_replay, f"""
WITH {_EV_SEC_CTE},
__w AS (
  SELECT user_id, event_type, sec,
         last_value(CASE WHEN event_type IN ('view', 'click')
                         THEN sec END IGNORE NULLS)
           OVER u AS lts,
         last_value(CASE WHEN event_type IN ('view', 'click')
                         THEN event_type END IGNORE NULLS)
           OVER u AS lty
  FROM __e
  WINDOW u AS (PARTITION BY user_id ORDER BY sec, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
SELECT coalesce(CASE WHEN sec - lts <= 604800 THEN lty END, '__none__')
           AS channel,
       count(*) AS n_conversions
FROM __w WHERE event_type = 'purchase' GROUP BY 1
""".strip())


def _q_stream_funnel_replay(spark, sf_dir):
    """STREAMING ordered funnel on the scoreboard: events replayed
    through ``stream_funnel``'s three-scalar-state kernel as an
    availableNow file stream — each completing user emits
    (user_id, t_start, t_complete) the moment the last step lands.  A
    whole-table single-batch replay advances the exact batch greedy
    chain, so the emitted set equals the batch funnel's step-K users
    with the identical anchor/completion timestamps — which is what the
    oracle derives from the s1..sK min-chain."""
    import tempfile

    from carbonapi_spark.sources.testdata import epoch_seconds
    from carbonapi_spark.streaming.stateful import stream_funnel
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    ev = stream.select("user_id", "event_type", "event_id",
                       epoch_seconds(stream).alias("sec"))
    out = stream_funnel(ev, ["view", "click", "purchase"],
                        within_s=7 * 86400)
    rows: list = []

    def sink(bdf, _bid):
        rows.extend((int(r["user_id"]), int(r["t_start"]),
                     int(r["t_complete"])) for r in bdf.collect())

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (out.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return _local_df(spark, 
        sorted(rows) or [],
        "user_id LONG, t_start LONG, t_complete LONG")


_register("stream_funnel_replay", _q_stream_funnel_replay, f"""
WITH {_EV_SEC_CTE},
s1 AS (SELECT user_id, min(sec) AS t1 FROM __e
       WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT e.user_id, min(sec) AS t2, any_value(t1) AS t1
       FROM __e e JOIN s1 USING (user_id)
       WHERE event_type = 'click' AND sec > t1
         AND sec <= t1 + 604800
       GROUP BY e.user_id),
s3 AS (SELECT e.user_id, min(sec) AS t3, any_value(t1) AS t1
       FROM __e e JOIN s2 USING (user_id)
       WHERE event_type = 'purchase' AND sec > t2
         AND sec <= t1 + 604800
       GROUP BY e.user_id)
SELECT user_id, t1 AS t_start, t3 AS t_complete FROM s3
""".strip())


def _q_stream_quota_replay(spark, sf_dir):
    """STREAMING per-source token-quota admission on the scoreboard:
    documents replayed through ``stream_source_quota``'s one-int64-state
    kernel as an availableNow file stream — each source admits its
    doc_id-order prefix while the running stream total fits 700 tokens,
    then stays closed.  The cumulative total is monotone, so the
    whole-history replay is exactly a per-source window cum-sum
    filter — which is what the oracle computes."""
    import tempfile

    from carbonapi_spark.datapipe.text import token_count
    from carbonapi_spark.streaming.stateful import stream_source_quota
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir))
    docs = stream.select("doc_id", "source",
                         token_count(F.col("text")).cast("long")
                         .alias("n_tokens"))
    out = stream_source_quota(docs, 700)
    rows: list = []

    def sink(bdf, _bid):
        rows.extend((r["source"], int(r["doc_id"]), int(r["n_tokens"]),
                     int(r["cum_tokens"])) for r in bdf.collect())

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (out.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return _local_df(spark, 
        sorted(rows) or [],
        "source STRING, doc_id LONG, n_tokens LONG, cum_tokens LONG")


_register("stream_quota_replay", _q_stream_quota_replay, r"""
WITH __n AS (SELECT source, doc_id,
                    CAST(len(list_filter(string_split_regex(text,
                         '[ \t\n\x0B\f\r]+'), x -> x != '')) AS BIGINT)
                        AS n_tokens
             FROM documents)
SELECT source, doc_id, n_tokens,
       CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_tokens
FROM __n
QUALIFY cum_tokens <= 700
""".strip())


def _q_rfm_segments(spark, sf_dir):
    """RFM user segmentation: per-user recency (last event ts) and
    frequency (event count), each ntile'd into quintiles with a
    user_id tie-break — one user-keyed aggregation + two windows over
    the USER table, all exact integers."""
    from carbonapi_spark.datapipe.events import rfm_segments
    return rfm_segments(_events_sec(spark, sf_dir))


_register("rfm_segments", _q_rfm_segments, f"""
WITH {_EV_SEC_CTE},
__u AS (SELECT user_id, max(sec) AS recency,
               count(*) AS frequency
        FROM __e GROUP BY user_id)
SELECT user_id, recency, frequency,
       CAST(ntile(5) OVER (ORDER BY recency, user_id) AS INT) AS r_bin,
       CAST(ntile(5) OVER (ORDER BY frequency, user_id) AS INT) AS f_bin
FROM __u
""".strip())


def _q_active_users(spark, sf_dir):
    """DAU/WAU/MAU + stickiness: rolling distinct-user counts via
    contribution explosion on the deduplicated (user, day) pair table —
    one event-sized shuffle, work pairs x 28, no self-join."""
    from carbonapi_spark.datapipe.events import active_users
    return active_users(_events_sec(spark, sf_dir)).select(
        "day", F.col("au1d").alias("dau"), F.col("au7d").alias("wau"),
        F.col("au28d").alias("mau"), "stickiness")


_register("active_users", _q_active_users, f"""
WITH {_EV_SEC_CTE},
__p AS (SELECT DISTINCT user_id, sec // 86400 AS day FROM __e),
__b AS (SELECT max(day) AS hi FROM __p),
__x AS (SELECT p.user_id, p.day + g.o AS d, min(g.o) AS m
        FROM __p p
        CROSS JOIN (SELECT unnest(range(0, 28)) AS o) g
        CROSS JOIN __b b
        WHERE p.day + g.o <= b.hi
        GROUP BY p.user_id, p.day + g.o)
SELECT d AS day,
       CAST(sum(CASE WHEN m < 1 THEN 1 ELSE 0 END) AS BIGINT) AS dau,
       CAST(sum(CASE WHEN m < 7 THEN 1 ELSE 0 END) AS BIGINT) AS wau,
       count(*) AS mau,
       CAST(sum(CASE WHEN m < 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / count(*) AS stickiness
FROM __x GROUP BY d
""".strip())


def _q_asof_nearest(spark, sf_dir):
    """asof_join direction='nearest' (smaller absolute gap, tie to the
    backward match, 12h tolerance) — same merge-union exchange as the
    backward entry plus one reverse-ordered window; the ORACLE ranks
    every candidate by (|gap|, backward-first), an independent
    derivation."""
    from carbonapi_spark.datapipe.events import asof_join
    from carbonapi_spark.sources.testdata import epoch_seconds, read_events
    ev = read_events(spark, sf_dir)
    ev = ev.select("user_id", "event_type", "event_id", "value",
                   epoch_seconds(ev).alias("sec"))
    left = (ev.where(F.col("event_type") == "purchase")
              .select("user_id", "sec", "event_id"))
    right = (ev.where(F.col("event_type") == "view")
               .groupBy("user_id", "sec")
               .agg(F.max("value").alias("value")))
    return asof_join(left, right, on="sec", by=("user_id",),
                     right_cols=("value",), direction="nearest",
                     tolerance_s=43200)


_register("asof_nearest", _q_asof_nearest, """
WITH __e AS (SELECT user_id, event_type, event_id, value,
                    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
__l AS (SELECT user_id, sec, event_id FROM __e
        WHERE event_type = 'purchase'),
__r AS (SELECT user_id, sec, max(value) AS value FROM __e
        WHERE event_type = 'view' GROUP BY user_id, sec),
__m AS (SELECT l.event_id, r.sec AS msec, r.value AS mval,
               row_number() OVER (PARTITION BY l.event_id
                   ORDER BY abs(r.sec - l.sec),
                            CASE WHEN r.sec <= l.sec THEN 0
                                 ELSE 1 END) AS rn
        FROM __l l JOIN __r r ON l.user_id = r.user_id)
SELECT l.user_id, l.sec, l.event_id,
       CASE WHEN abs(l.sec - m.msec) <= 43200 THEN m.msec END AS sec_r,
       CASE WHEN abs(l.sec - m.msec) <= 43200 THEN m.mval END AS value_r
FROM __l l LEFT JOIN __m m ON l.event_id = m.event_id AND m.rn = 1
""".strip())


def _q_window_join(spark, sf_dir):
    """Window join (kdb wj): every purchase aggregates the views of the
    trailing hour — count/sum/min/max/avg over micro-unit integer
    values so the sum replays exactly.  Same merge-union exchange as
    asof_join, with a RANGE frame instead of a carry; the oracle is an
    independent inequality-join aggregate."""
    from carbonapi_spark.datapipe.events import window_join
    from carbonapi_spark.sources.testdata import epoch_seconds, read_events
    ev = read_events(spark, sf_dir)
    ev = ev.select("user_id", "event_type", "event_id", "value",
                   epoch_seconds(ev).alias("sec"))
    left = (ev.where(F.col("event_type") == "purchase")
              .select("user_id", "sec", "event_id"))
    right = (ev.where(F.col("event_type") == "view")
               .select("user_id", "sec",
                       F.round(F.col("value") * 100).cast("long")
                       .alias("mv")))
    return window_join(left, right, on="sec", by=("user_id",),
                       value_col="mv", window_s=3600)


_register("window_join", _q_window_join, """
WITH __e AS (SELECT user_id, event_type, event_id, value,
                    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
__l AS (SELECT user_id, sec, event_id FROM __e
        WHERE event_type = 'purchase'),
__r AS (SELECT user_id, sec,
               CAST(round(value * 100) AS BIGINT) AS mv FROM __e
        WHERE event_type = 'view'),
__m AS (SELECT l.event_id, r.mv
        FROM __l l JOIN __r r
          ON l.user_id = r.user_id
         AND r.sec BETWEEN l.sec - 3600 AND l.sec)
SELECT l.user_id, l.sec, l.event_id,
       CAST(count(m.mv) AS BIGINT) AS w_cnt,
       CAST(sum(m.mv) AS BIGINT) AS w_sum,
       min(m.mv) AS w_min,
       max(m.mv) AS w_max,
       CASE WHEN count(m.mv) > 0
            THEN round(CAST(sum(m.mv) AS DOUBLE) / count(m.mv), 6)
       END AS w_avg
FROM __l l LEFT JOIN __m m ON l.event_id = m.event_id
GROUP BY l.user_id, l.sec, l.event_id
""".strip())


def _q_asof_join(spark, sf_dir):
    """Point-in-time as-of join: each purchase picks up the latest
    at-or-before view value for the same user within a 1-day tolerance
    (pandas merge_asof / kdb aj semantics).  Spark side is the
    merge-union plan — one shuffle on user_id, one ordered window, no
    range join; the ORACLE derives the same rows independently via a
    rank-1 inequality join, so the two engines share no plan shape."""
    from carbonapi_spark.datapipe.events import asof_join
    from carbonapi_spark.sources.testdata import epoch_seconds, read_events
    ev = read_events(spark, sf_dir)
    ev = ev.select("user_id", "event_type", "event_id", "value",
                   epoch_seconds(ev).alias("sec"))
    left = (ev.where(F.col("event_type") == "purchase")
              .select("user_id", "sec", "event_id"))
    right = (ev.where(F.col("event_type") == "view")
               .groupBy("user_id", "sec")
               .agg(F.max("value").alias("value")))
    return asof_join(left, right, on="sec", by=("user_id",),
                     right_cols=("value",), tolerance_s=86400)


_register("asof_join", _q_asof_join, """
WITH __e AS (SELECT user_id, event_type, event_id, value,
                    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
__l AS (SELECT user_id, sec, event_id FROM __e
        WHERE event_type = 'purchase'),
__r AS (SELECT user_id, sec, max(value) AS value FROM __e
        WHERE event_type = 'view' GROUP BY user_id, sec),
__m AS (SELECT l.event_id, r.sec AS msec, r.value AS mval,
               row_number() OVER (PARTITION BY l.event_id
                                  ORDER BY r.sec DESC) AS rn
        FROM __l l JOIN __r r
          ON l.user_id = r.user_id AND r.sec <= l.sec)
SELECT l.user_id, l.sec, l.event_id,
       CASE WHEN l.sec - m.msec <= 86400 THEN m.msec END AS sec_r,
       CASE WHEN l.sec - m.msec <= 86400 THEN m.mval END AS value_r
FROM __l l LEFT JOIN __m m ON l.event_id = m.event_id AND m.rn = 1
""".strip())


def _synth_urls(docs):
    """Deterministic raw crawl URLs from (source, lang, doc_id), cycling
    three hostile shapes: mixed-case scheme/host, default ports, www.,
    unsorted + tracking query params, fragments, and a co.uk-style
    public-suffix host.  The ORACLE derives the expected canonical form
    in closed form from the same three columns — an independent
    derivation, not a mirror of the string machinery."""
    sid = F.col("doc_id").cast("string")
    m = F.pmod(F.col("doc_id"), F.lit(3))
    up = F.upper(F.col("source"))
    url = (F.when(m == 0, F.concat(
               F.lit("http://WWW."), up, F.lit(".EXAMPLE.COM:80/"),
               F.col("lang"), F.lit("/doc/"), sid,
               F.lit("?b=2&utm_medium=x&a=1#top")))
           .when(m == 1, F.concat(
               F.lit("HTTPS://www."), up, F.lit(".Example.Com:443/"),
               F.col("lang"), F.lit("/doc/"), sid,
               F.lit("?id="), sid, F.lit("&utm_source=feed")))
           .otherwise(F.concat(
               F.lit("https://"), up, F.lit(".example.CO.UK/"),
               F.col("lang"), F.lit("/doc/"), sid)))
    return docs.select("doc_id", url.alias("url"))


def _q_url_canonical(spark, sf_dir):
    """URL canonicalization + registrable-domain extraction over
    synthesized hostile crawl URLs: lowercased scheme/host, default
    ports and www. stripped, fragments dropped, tracking params
    scrubbed, survivors sorted; eTLD+1 under the two-tier suffix rule
    (the co.uk shape exercises the three-label branch)."""
    from carbonapi_spark.datapipe.web import url_dedup_key
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return url_dedup_key(_synth_urls(docs))


_URL_ORACLE_CTE = """
__u AS (
  SELECT doc_id,
         CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN 'http://WWW.' || upper(source)
                || '.EXAMPLE.COM:80/' || lang || '/doc/' || doc_id
                || '?b=2&utm_medium=x&a=1#top'
           WHEN 1 THEN 'HTTPS://www.' || upper(source)
                || '.Example.Com:443/' || lang || '/doc/' || doc_id
                || '?id=' || doc_id || '&utm_source=feed'
           ELSE 'https://' || upper(source) || '.example.CO.UK/'
                || lang || '/doc/' || doc_id
         END AS url,
         CASE CAST(doc_id % 3 AS INT)
           WHEN 0 THEN 'http://' || lower(source) || '.example.com/'
                || lang || '/doc/' || doc_id || '?a=1&b=2'
           WHEN 1 THEN 'https://' || lower(source) || '.example.com/'
                || lang || '/doc/' || doc_id || '?id=' || doc_id
           ELSE 'https://' || lower(source) || '.example.co.uk/'
                || lang || '/doc/' || doc_id
         END AS canon_url,
         CASE WHEN doc_id % 3 = 2 THEN 'example.co.uk'
              ELSE 'example.com' END AS domain
  FROM documents)""".strip()


_register("url_canonical", _q_url_canonical, f"""
WITH {_URL_ORACLE_CTE}
SELECT doc_id, url, canon_url, domain FROM __u
""".strip())


def _q_domain_stats(spark, sf_dir):
    """Per-domain crawl stats with URL-level dup detection: every doc's
    URL appears twice in raw form — once clean, once with tracking
    noise and shuffled params — and both canonicalize equal, so
    dup_ratio is 0.5 by construction for every domain."""
    from carbonapi_spark.datapipe.web import domain_stats
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    urls = _synth_urls(docs)
    noised = urls.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("url"),
                 F.when(F.col("url").contains("?"), F.lit("&"))
                 .otherwise(F.lit("?")),
                 F.lit("utm_campaign=z#frag2")).alias("url"))
    return domain_stats(urls.unionByName(noised))


_register("domain_stats", _q_domain_stats, f"""
WITH {_URL_ORACLE_CTE}
SELECT domain, 2 * count(*) AS n_pages,
       count(*) AS n_canon_urls,
       CAST(0.5 AS DOUBLE) AS dup_ratio
FROM __u GROUP BY domain
""".strip())


def _q_stream_rollup_replay(spark, sf_dir):
    """Streaming rollup maintenance on the scoreboard: the hourly
    events series replays as an availableNow file stream through
    ``stream_rollups`` (daily step, '*.click' rolls up with max,
    average otherwise, 1h watermark); the emitted archive rows are the
    watermark-closed daily buckets, which the oracle re-derives from
    raw events with the same close cutoff."""
    import tempfile

    from carbonapi_spark.sources.testdata import events_series_df
    from carbonapi_spark.streaming.ingest import stream_rollups
    hourly = events_series_df(spark, sf_dir).where(
        F.col("name").startswith("events.u"))
    with tempfile.TemporaryDirectory() as tmp:
        src = f"{tmp}/src"
        hourly.coalesce(1).write.parquet(src)
        stream = (spark.readStream.schema(hourly.schema).parquet(src)
                  .select("name",
                          F.col("ts").cast("timestamp").alias("ts"),
                          "value"))
        writers = stream_rollups(
            stream, f"{tmp}/roll", f"{tmp}/ckpt", steps=[86400],
            methods=[("events.*.click", "max")],
            default_method="average", watermark="1 hour")
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        try:
            q = writers[0].trigger(availableNow=True).start()
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
        rows = (spark.read.parquet(f"{tmp}/roll/step=86400")
                .select("name", "ts",
                        F.round("value", 6).alias("value")).collect())
    return _local_df(spark, rows, "name STRING, ts LONG, "
                                       "value DOUBLE")


_register("stream_rollup_replay", _q_stream_rollup_replay, r"""
WITH ev AS (
  SELECT 'events.u' || CAST(user_id % 10 AS VARCHAR) || '.' || event_type
             AS name,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hts,
         SUM(value) AS value
  FROM events GROUP BY 1, 2),
mx AS (SELECT max(hts) AS m FROM ev)
SELECT name, hts - hts % 86400 AS ts,
       round(CASE WHEN name LIKE '%.click'
                  THEN max(value) ELSE avg(value) END, 6) AS value
FROM ev CROSS JOIN mx
GROUP BY name, hts - hts % 86400, m
HAVING (hts - hts % 86400) + 86400 <= m - 3600
""".strip())


def _q_pagerank(spark, sf_dir):
    """PageRank centrality over the embedding-similarity graph (the
    same pairs as embedding_dedup) — the canonical-doc selector: most
    central doc per near-dup neighborhood.  10 power iterations, ranks
    rounded per iteration so the trajectory replays exactly."""
    from carbonapi_spark.datapipe.cluster import pagerank
    pairs = _q_embedding_dedup(spark, sf_dir).select("id_a", "id_b")
    return pagerank(pairs, "id_a", "id_b")


def _pagerank_oracle(n_iter: int = 10, damping: float = 0.85) -> str:
    onemind = repr(1.0 - damping)
    iters = []
    for i in range(1, n_iter + 1):
        iters.append(f"""
__pr{i} AS MATERIALIZED (
  SELECT c.node,
         round(CAST({onemind} AS DOUBLE) / c.n
               + {damping!r} * c.s, 6) AS pr, d.deg
  FROM (SELECT u.b AS node, sum(p.pr / p.deg) AS s,
               any_value(nn.n) AS n
        FROM __u u JOIN __pr{i - 1} p ON u.a = p.node
        CROSS JOIN __nn nn
        GROUP BY u.b) c
  JOIN __deg d ON c.node = d.a)""".strip())
    return f"""
WITH v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e
                        FROM embeddings WHERE vec_id < 300),
__e0 AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e))
                 * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.4),
__u AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM __e0
                     UNION ALL SELECT id_b, id_a FROM __e0),
__deg AS MATERIALIZED (SELECT a, count(*) AS deg FROM __u GROUP BY a),
__nn AS MATERIALIZED (SELECT count(*) AS n FROM __deg),
__pr0 AS MATERIALIZED (
  SELECT a AS node, 1.0 / n AS pr, deg
  FROM __deg CROSS JOIN __nn),
""".strip() + "\n" + ",\n".join(iters) + f"""
SELECT node, pr FROM __pr{n_iter}
"""


_register("pagerank", _q_pagerank, _pagerank_oracle())


def _q_label_prop(spark, sf_dir):
    """Synchronous label propagation over the same embedding-similarity
    graph as pagerank: density-aware communities that a spurious bridge
    edge cannot fuse (the CC over-merge refinement).  Deterministic —
    most-frequent neighbor label, ties to the smallest — so 5 unrolled
    iterations replay exactly."""
    from carbonapi_spark.datapipe.cluster import label_propagation
    pairs = _q_embedding_dedup(spark, sf_dir).select("id_a", "id_b")
    return label_propagation(pairs, "id_a", "id_b", n_iter=5)


def _label_prop_oracle(n_iter: int = 5) -> str:
    iters = []
    for i in range(1, n_iter + 1):
        iters.append(f"""
__lb{i} AS MATERIALIZED (
  SELECT b AS node, l AS lab FROM (
    SELECT u.b AS b, l2.lab AS l, count(*) AS c
    FROM __u u JOIN __lb{i - 1} l2 ON u.a = l2.node
    GROUP BY u.b, l2.lab)
  QUALIFY row_number() OVER (PARTITION BY b ORDER BY c DESC, l) = 1)
""".strip())
    return f"""
WITH v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e
                        FROM embeddings WHERE vec_id < 300),
__e0 AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e))
                 * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.4),
__u AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM __e0
                     UNION ALL SELECT id_b, id_a FROM __e0),
__lb0 AS MATERIALIZED (SELECT DISTINCT a AS node, a AS lab FROM __u),
""".strip() + "\n" + ",\n".join(iters) + f"""
SELECT node, lab AS label FROM __lb{n_iter}
"""


_register("label_prop", _q_label_prop, _label_prop_oracle())


def _q_triangles(spark, sf_dir):
    """Per-node triangle counts + local clustering coefficient over the
    same embedding-similarity graph as pagerank/label_prop — the
    density diagnostic separating boilerplate clique families from
    spurious LSH hub collisions.  Degree-ordered orientation keeps the
    wedge volume at O(m^1.5) regardless of skew."""
    from carbonapi_spark.datapipe.cluster import triangle_count
    pairs = _q_embedding_dedup(spark, sf_dir).select("id_a", "id_b")
    return triangle_count(pairs, "id_a", "id_b")


_register("triangles", _q_triangles, """
WITH v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e
                        FROM embeddings WHERE vec_id < 300),
__e0 AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e))
                 * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.4),
__u AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM __e0
                     UNION ALL SELECT id_b, id_a FROM __e0),
__deg AS MATERIALIZED (SELECT a, count(*) AS deg FROM __u GROUP BY a),
__o AS MATERIALIZED (
  SELECT CASE WHEN (da.deg, e.id_a) < (db.deg, e.id_b)
              THEN e.id_a ELSE e.id_b END AS u,
         CASE WHEN (da.deg, e.id_a) < (db.deg, e.id_b)
              THEN e.id_b ELSE e.id_a END AS x,
         CASE WHEN (da.deg, e.id_a) < (db.deg, e.id_b)
              THEN db.deg ELSE da.deg END AS dx
  FROM __e0 e
  JOIN __deg da ON e.id_a = da.a
  JOIN __deg db ON e.id_b = db.a),
__t AS (SELECT o1.u, o1.x, o2.x AS y
        FROM __o o1 JOIN __o o2
          ON o1.u = o2.u AND (o1.dx, o1.x) < (o2.dx, o2.x)
        JOIN __o c ON c.u = o1.x AND c.x = o2.x),
__n AS (SELECT node, count(*) AS triangles FROM (
          SELECT u AS node FROM __t
          UNION ALL SELECT x FROM __t
          UNION ALL SELECT y FROM __t) GROUP BY node)
SELECT d.a AS node, d.deg,
       coalesce(n.triangles, 0) AS triangles,
       CASE WHEN d.deg >= 2
            THEN round(CAST(2 AS DOUBLE) * coalesce(n.triangles, 0)
                       / (d.deg * (d.deg - 1)), 6)
            ELSE CAST(0.0 AS DOUBLE) END AS lcc
FROM __deg d LEFT JOIN __n n ON d.a = n.node
""".strip())


def _q_corpus_diff(spark, sf_dir):
    """Snapshot diff between two corpus versions (added / removed /
    modified / unchanged): the new snapshot drops every 7th doc,
    appends ' [rev2]' to every 10th, and adds 20 fresh ids.  Spark
    compares xxhash64 content digests over one id-keyed full join; the
    oracle compares the text directly — an independent derivation that
    also cross-checks the digest path for collisions."""
    from carbonapi_spark.sources.corpus import corpus_diff
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .select("doc_id", "text")
    new = (docs.where(F.pmod(F.col("doc_id"), F.lit(7)) != 3)
           .withColumn("text",
                       F.when(F.pmod(F.col("doc_id"), F.lit(10)) == 0,
                              F.concat(F.col("text"), F.lit(" [rev2]")))
                       .otherwise(F.col("text"))))
    added = (docs.where(F.col("doc_id") < 20)
             .select((F.col("doc_id") + 1_000_000).alias("doc_id"),
                     "text"))
    return corpus_diff(docs, new.unionByName(added))


_register("corpus_diff", _q_corpus_diff, """
WITH __o AS (SELECT doc_id, text FROM documents),
__n AS (SELECT doc_id,
               CASE WHEN doc_id % 10 = 0 THEN text || ' [rev2]'
                    ELSE text END AS text
        FROM documents WHERE doc_id % 7 != 3
        UNION ALL
        SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 20)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.doc_id IS NULL THEN 'added'
            WHEN n.doc_id IS NULL THEN 'removed'
            WHEN o.text = n.text THEN 'unchanged'
            ELSE 'modified' END AS status
FROM __o o FULL JOIN __n n ON o.doc_id = n.doc_id
""".strip())


def _q_core_numbers(spark, sf_dir):
    """k-core decomposition of the embedding-similarity graph via 8
    iterated neighborhood H-indices (Lü 2016) — pure-integer, so the
    unrolled SQL replay is exact; dense cores = boilerplate families."""
    from carbonapi_spark.datapipe.cluster import core_numbers
    pairs = _q_embedding_dedup(spark, sf_dir).select("id_a", "id_b")
    return core_numbers(pairs, "id_a", "id_b", n_iter=8)


def _core_numbers_oracle(n_iter: int = 8) -> str:
    iters = []
    for t in range(1, n_iter + 1):
        iters.append(f"""
__k{t} AS MATERIALIZED (
  SELECT a AS node, max(least(r, cv)) AS c FROM (
    SELECT u.a, k.c AS cv,
           row_number() OVER (PARTITION BY u.a ORDER BY k.c DESC) AS r
    FROM __u u JOIN __k{t - 1} k ON u.b = k.node)
  GROUP BY a)""".strip())
    return f"""
WITH v AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS e
                        FROM embeddings WHERE vec_id < 300),
__e0 AS MATERIALIZED (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.e, b.e)
              / (sqrt(list_dot_product(a.e, a.e))
                 * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.4),
__u AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM __e0
                     UNION ALL SELECT id_b, id_a FROM __e0),
__k0 AS MATERIALIZED (SELECT a AS node, CAST(count(*) AS BIGINT) AS c
                      FROM __u GROUP BY a),
{",".join(iters)}
SELECT node, c AS core FROM __k{n_iter}
""".strip()


_register("core_numbers", _q_core_numbers, _core_numbers_oracle())


def _q_tiered_fetch(spark, sf_dir):
    """Whisper-style retention tiers on the scoreboard: hourly series
    roll up into a materialized daily archive (storage-aggregation
    method per name pattern: '*.click' rolls up with max, everything
    else with average), and a 20-day query — past the raw tier's 7-day
    retention — is served by the daily tier.  The oracle re-derives the
    daily archive from raw events, so a wrong rollup method, bucket, or
    tier selection breaks the match."""
    import tempfile

    from carbonapi_spark.model.series import NAME, TS, VALUE
    from carbonapi_spark.sources.lake import (
        SeriesLake, TieredLake, write_rollups)
    from carbonapi_spark.sources.testdata import events_series_df
    raw = events_series_df(spark, sf_dir)  # hourly sums
    now = 1706659200  # end of the events data window
    with tempfile.TemporaryDirectory() as tmp:
        write_rollups(raw, tmp, steps=[86400],
                      methods=[("events.u*.click", "max")],
                      default_method="average")
        daily = spark.read.parquet(f"{tmp}/step=86400")
        tiered = TieredLake(
            [(3600, 7 * 86400, SeriesLake(raw, 3600)),
             (86400, 400 * 86400,
              SeriesLake(daily, 86400, time_partition_col="day"))],
            now=now)
        assert tiered.select_tier(now - 20 * 86400) == 1
        frame = tiered.fetch(spark, "events.u*.{click,purchase}",
                             now - 20 * 86400, now)
        rows = (frame.df
                .select(NAME, TS, F.round(VALUE, 6).alias(VALUE))
                .collect())
    return _local_df(spark, rows, "name STRING, ts LONG, "
                                       "value DOUBLE")


_register("tiered_fetch", _q_tiered_fetch, r"""
WITH ev AS (
  SELECT 'events.u' || CAST(user_id % 10 AS VARCHAR) || '.' || event_type
             AS name,
         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hts,
         SUM(value) AS value
  FROM events
  WHERE event_type IN ('click', 'purchase')
  GROUP BY 1, 2)
SELECT name, hts - hts % 86400 AS ts,
       round(CASE WHEN name LIKE '%.click'
                  THEN max(value) ELSE avg(value) END, 6) AS value
FROM ev
WHERE hts >= 1704931200 AND hts < 1706659200
GROUP BY name, hts - hts % 86400
""".strip())


def _q_pmi_top(spark, sf_dir):
    """Top-50 collocations by PMI (Church & Hanks 1990) with a
    min-count floor — unigram marginals and the total derived from the
    bigram count table, never a second corpus pass."""
    from carbonapi_spark.datapipe.text import pmi_top
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pmi_top(docs, min_count=20, k=50)


_register("pmi_top", _q_pmi_top, f"""
WITH __bi AS (
  SELECT g, count(*) AS cnt FROM (
    SELECT unnest(list_transform(range(greatest(len(toks) - 1, 0)),
                                 j -> toks[j + 1] || ' ' || toks[j + 2]))
               AS g
    FROM (SELECT {_TOKS_SQL} AS toks FROM documents))
  GROUP BY g),
__p AS (SELECT string_split(g, ' ')[1] AS w1,
               string_split(g, ' ')[2] AS w2, cnt
        FROM __bi),
__c1 AS (SELECT w1, sum(cnt) AS c1 FROM __p GROUP BY w1),
__c2 AS (SELECT w2, sum(cnt) AS c2 FROM __p GROUP BY w2),
__t AS (SELECT sum(cnt) AS t FROM __p)
SELECT w1, w2, cnt,
       round(ln(CAST(cnt * t AS DOUBLE) / CAST(c1 * c2 AS DOUBLE)), 6)
           AS pmi
FROM __p JOIN __c1 USING (w1) JOIN __c2 USING (w2) CROSS JOIN __t
WHERE cnt >= 20
ORDER BY pmi DESC, w1, w2 LIMIT 50
""".strip())


def _q_media_dsp(spark, sf_dir):
    """Second-order media features on REAL decoded payloads: audio
    zero-crossing count, peak amplitude, and autocorrelation dominant
    lag; image per-channel means and horizontal-gradient energy.  All
    integer-exact, so the oracle replays them from the synthesis
    arithmetic without ever parsing the containers — the Spark side
    must decode the real bytes to reach the same numbers."""
    from carbonapi_spark.datapipe.multimodal import (
        media_dsp_features, synth_media_from_ids)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ids = docs.where(F.col("doc_id") < 240).select("doc_id")
    return media_dsp_features(synth_media_from_ids(ids), strict=True)


_register("media_dsp", _q_media_dsp, """
WITH __ids AS (SELECT doc_id AS media_id FROM documents WHERE doc_id < 240),
__audio AS (
  SELECT media_id, 32 + media_id % 64 AS n,
         list_transform(range(32 + media_id % 64),
                        j -> ((media_id * 31 + j * 7) % 2048) - 1024) AS s
  FROM __ids WHERE media_id % 2 = 1),
__lag AS (
  SELECT media_id, L,
         list_sum(list_transform(range(n - L),
                                 j -> s[j + 1] * s[j + L + 1])) AS r
  FROM __audio CROSS JOIN (SELECT unnest(range(1, 17)) AS L)),
__best AS (
  SELECT media_id, CAST(L AS INT) AS dominant_lag
  FROM __lag
  QUALIFY row_number() OVER (PARTITION BY media_id
                             ORDER BY r DESC, L ASC) = 1),
__img AS (
  SELECT media_id, 8 + media_id % 8 AS w, 6 AS h,
         list_transform(range(3 * (8 + media_id % 8) * 6),
                        p -> (media_id * 13 + p) % 251) AS s
  FROM __ids WHERE media_id % 2 = 0)
SELECT a.media_id, 'audio' AS kind,
       CAST(list_sum(list_transform(range(1, n),
                j -> CASE WHEN (s[j + 1] >= 0) != (s[j] >= 0)
                     THEN 1 ELSE 0 END)) AS BIGINT) AS zero_crossings,
       CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak,
       b.dominant_lag,
       CAST(NULL AS DOUBLE) AS mean_r, CAST(NULL AS DOUBLE) AS mean_g,
       CAST(NULL AS DOUBLE) AS mean_b, CAST(NULL AS BIGINT) AS grad_energy
FROM __audio a JOIN __best b USING (media_id)
UNION ALL
SELECT media_id, 'image' AS kind,
       CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS INT),
       round(CAST(list_sum(list_transform(range(w * h),
                 q -> s[3 * q + 1])) AS DOUBLE) / (w * h), 6) AS mean_r,
       round(CAST(list_sum(list_transform(range(w * h),
                 q -> s[3 * q + 2])) AS DOUBLE) / (w * h), 6) AS mean_g,
       round(CAST(list_sum(list_transform(range(w * h),
                 q -> s[3 * q + 3])) AS DOUBLE) / (w * h), 6) AS mean_b,
       CAST(list_sum(list_transform(range(3 * w * h - 3),
                 i -> abs(s[i + 4] - s[i + 1]))) AS BIGINT) AS grad_energy
FROM __img
""".strip())


def _q_split_assign(spark, sf_dir):
    """Reproducible corpus split: hash-bucket labels (train/val/test)
    from a salted xxhash64 of the doc id — stable under repartitioning
    and corpus growth, unlike randomSplit.  Pure projection, no
    shuffle."""
    from carbonapi_spark.datapipe.sampling import train_val_test_split
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return train_val_test_split(docs, val=0.1, test=0.1) \
        .select("doc_id", "split")


def _split_oracle() -> str:
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    return f"""
WITH __k AS (SELECT doc_id, 'split:' || CAST(doc_id AS VARCHAR) AS t
             FROM documents),
{xxh64_ctes('__k', 't', 'h64', '__x')},
__b AS (SELECT doc_id, ((h64 % 1000000) + 1000000) % 1000000 AS b
        FROM __x)
SELECT doc_id, CASE WHEN b < 100000 THEN 'val'
                    WHEN b < 200000 THEN 'test'
                    ELSE 'train' END AS split
FROM __b
""".strip()


_register("split_assign", _q_split_assign, _split_oracle())


def _q_code_detect(spark, sf_dir):
    """Code-vs-prose routing signals (symbol fraction, indented-line
    fraction, mean line length, voted is_code) — one stateless codegen
    projection, replayed exactly in SQL."""
    from carbonapi_spark.datapipe.text import code_prose_features
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return code_prose_features(docs)


_register("code_detect", _q_code_detect, r"""
WITH __f AS (
  SELECT doc_id,
         length(text) AS nc,
         length(text) - length(regexp_replace(text, '[{}\[\]();=<>#]', '',
                                              'g')) AS sym,
         string_split(text, chr(10)) AS lines
  FROM documents),
__g AS (
  SELECT doc_id, nc,
         CASE WHEN nc > 0 THEN CAST(sym AS DOUBLE) / nc ELSE 0.0 END
           AS symbol_frac,
         CASE WHEN len(lines) > 0
              THEN CAST(len(list_filter(lines,
                       l -> regexp_matches(l, '^[ \t]'))) AS DOUBLE)
                   / len(lines) ELSE 0.0 END AS indent_frac,
         CASE WHEN len(lines) > 0 THEN CAST(nc AS DOUBLE) / len(lines)
              ELSE 0.0 END AS line_len_mean
  FROM __f)
SELECT doc_id, round(symbol_frac, 6) AS symbol_frac,
       round(indent_frac, 6) AS indent_frac,
       round(line_len_mean, 6) AS line_len_mean,
       ((symbol_frac > 0.03)::INT + (indent_frac > 0.2)::INT
        + (line_len_mean < 40 AND nc > 0)::INT) >= 2 AS is_code
FROM __g
""".strip())


def _q_readability(spark, sf_dir):
    """Flesch / Flesch-Kincaid / TTR readability report — one stateless
    codegen projection (pinned-class token split, ASCII-only regex
    counting, higher-order syllable sum), replayed exactly in SQL."""
    from carbonapi_spark.datapipe.text import readability
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return readability(docs)


_register("readability", _q_readability, r"""
WITH __r AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '[ \t\n\x0B\f\r]+'),
                     x -> x != '') AS toks,
         greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sent
  FROM documents),
__c AS (
  SELECT doc_id, n_sent, len(toks) AS n_words,
         CAST(coalesce(list_sum(list_transform(toks,
              w -> greatest(1, len(regexp_extract_all(
                                       w, '[aeiouyAEIOUY]+'))))),
              0) AS BIGINT) AS n_syll,
         len(list_distinct(toks)) AS n_types
  FROM __r)
SELECT doc_id, n_sent, n_words, n_syll,
       round(CASE WHEN n_words > 0 THEN
             206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sent)
                     - 84.6 * (CAST(n_syll AS DOUBLE) / n_words) END, 6)
         AS flesch,
       round(CASE WHEN n_words > 0 THEN
             0.39 * (CAST(n_words AS DOUBLE) / n_sent)
             + 11.8 * (CAST(n_syll AS DOUBLE) / n_words) - 15.59 END, 6)
         AS fk_grade,
       round(CASE WHEN n_words > 0 THEN
             CAST(n_types AS DOUBLE) / n_words END, 6) AS ttr
FROM __c
""".strip())


def _q_judge_agreement(spark, sf_dir):
    """Cohen's kappa between two heuristic quality raters (mean word
    length >= 4.5 vs doc length >= 40 tokens) — the chance-corrected
    agreement gate a pipeline runs on annotator/LLM-judge labels.  All
    counts exact int64; three divisions at the end."""
    from carbonapi_spark.datapipe.evals import cohen_kappa
    from carbonapi_spark.datapipe.text import tokens
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = tokens(F.lower(F.col("text")))
    n = F.size(toks)
    tl = F.aggregate(toks, F.lit(0).cast("long"),
                     lambda a, x: a + F.length(x))
    labeled = docs.select(
        ((tl / n) >= 4.5).alias("rater_a"),
        (n >= 40).alias("rater_b"))
    return cohen_kappa(labeled, "rater_a", "rater_b")


_register("judge_agreement", _q_judge_agreement, rf"""
WITH __t AS (SELECT {_TOKS_SQL} AS toks FROM documents),
__l AS (SELECT
          (CAST(list_sum(list_transform(toks, w -> length(w)))
                AS DOUBLE) / len(toks)) >= 4.5 AS ra,
          len(toks) >= 40 AS rb
        FROM __t),
__e AS (SELECT sum(na * nb) AS ee FROM (
          SELECT l, sum(na) AS na, sum(nb) AS nb FROM (
            SELECT ra AS l, 1 AS na, 0 AS nb FROM __l
            UNION ALL SELECT rb, 0, 1 FROM __l)
          GROUP BY l)),
__o AS (SELECT count(*) AS n,
               sum(CASE WHEN ra = rb THEN 1 ELSE 0 END) AS agree
        FROM __l)
SELECT CAST(n AS BIGINT) AS n,
       round(CAST(agree AS DOUBLE) / n, 6) AS p_o,
       round(CAST(ee AS DOUBLE) / (n * n), 6) AS p_e,
       round((CAST(agree AS DOUBLE) / n - CAST(ee AS DOUBLE) / (n * n))
             / (1 - CAST(ee AS DOUBLE) / (n * n)), 6) AS kappa
FROM __o CROSS JOIN __e
""".strip())


def _q_bleu_eval(spark, sf_dir):
    """Corpus-level clipped n-gram precision report (BLEU ingredients):
    candidate = the doc with every 7th token dropped, reference = the
    doc — so clipping, short-array guards and the brevity inputs all
    do real work.  Every row is integer counts + one rounded IEEE
    division; no libm anywhere."""
    from carbonapi_spark.datapipe.evals import bleu_report
    from carbonapi_spark.datapipe.text import tokens
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = tokens(F.lower(F.col("text")))
    cand = F.filter(toks, lambda x, i: (i + 1) % 7 != 0)
    pairs = docs.select(cand.alias("cand"), toks.alias("ref"))
    return bleu_report(pairs)


def _bleu_oracle(max_n: int = 4) -> str:
    units = []
    for n in range(1, max_n + 1):
        units.append(f"""
SELECT {n} AS n,
       coalesce((SELECT CAST(sum(least(cc, rc)) AS BIGINT) FROM (
          SELECT pid, g, count(*) AS cc FROM
            (SELECT pid, unnest(list_transform(
                 range(len(cand) - {n} + 1),
                 j -> array_to_string(cand[j + 1:j + {n}], ' '))) AS g
             FROM __p WHERE len(cand) >= {n}) GROUP BY pid, g) c
          JOIN (
          SELECT pid, g, count(*) AS rc FROM
            (SELECT pid, unnest(list_transform(
                 range(len(ref) - {n} + 1),
                 j -> array_to_string(ref[j + 1:j + {n}], ' '))) AS g
             FROM __p WHERE len(ref) >= {n}) GROUP BY pid, g) r
          USING (pid, g)), 0) AS matches,
       coalesce((SELECT CAST(sum(len(cand) - {n} + 1) AS BIGINT)
                 FROM __p WHERE len(cand) >= {n}), 0) AS total
""".strip())
    body = "\nUNION ALL\n".join(units)
    return f"""
WITH __d AS (SELECT doc_id, {_TOKS_SQL} AS ref FROM documents),
__p AS (SELECT doc_id AS pid, ref,
               list_transform(list_filter(range(1, len(ref) + 1),
                                          i -> i % 7 != 0),
                              i -> ref[i]) AS cand
        FROM __d),
__n AS (
SELECT 0 AS n, CAST(sum(len(cand)) AS BIGINT) AS matches,
       CAST(sum(len(ref)) AS BIGINT) AS total FROM __p
UNION ALL
{body})
SELECT n, matches, total,
       CASE WHEN total > 0 THEN CAST(matches AS DOUBLE) / total
            ELSE CAST(0.0 AS DOUBLE) END AS precision
FROM __n
""".strip()


_register("bleu_eval", _q_bleu_eval, _bleu_oracle())


def _q_bt_ranking(spark, sf_dir):
    """Bradley-Terry source strengths from synthesized pairwise
    preferences: consecutive docs of different sources 'compete', the
    longer text wins — the preference-dataset fit behind RLHF reward
    baselines and arena leaderboards.  8 MM iterations, strengths
    normalized to mean 1 and rounded per iteration so the whole
    trajectory replays as unrolled SQL."""
    from carbonapi_spark.datapipe.evals import bradley_terry
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = docs.select(F.col("doc_id").alias("ida"),
                    F.col("source").alias("sa"),
                    F.col("n_chars").alias("ca"))
    b = docs.select((F.col("doc_id") - 1).alias("ida"),
                    F.col("source").alias("sb"),
                    F.col("n_chars").alias("cb"))
    m = (a.join(b, "ida")
         .where(F.col("sa") != F.col("sb"))
         .select(F.when(F.col("ca") >= F.col("cb"), F.col("sa"))
                 .otherwise(F.col("sb")).alias("winner"),
                 F.when(F.col("ca") >= F.col("cb"), F.col("sb"))
                 .otherwise(F.col("sa")).alias("loser")))
    return bradley_terry(m, n_iter=8)


_BT_DOC_MATCHES = """
  SELECT CASE WHEN a.n_chars >= b.n_chars THEN a.source
              ELSE b.source END AS winner,
         CASE WHEN a.n_chars >= b.n_chars THEN b.source
              ELSE a.source END AS loser
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.source != b.source""".strip()


def _bt_oracle(n_iter: int = 8, matches_sql: str = _BT_DOC_MATCHES) -> str:
    iters = []
    for k in range(1, n_iter + 1):
        iters.append(f"""
__raw{k} AS MATERIALIZED (
  SELECT w.i AS item, w.wins / d.den AS raw
  FROM __w w JOIN (
    SELECT p.i, sum(p.nij / (pi.p + pj.p)) AS den
    FROM __pr p
    JOIN __bt{k - 1} pi ON p.i = pi.item
    JOIN __bt{k - 1} pj ON p.j = pj.item
    GROUP BY p.i) d ON w.i = d.i),
__bt{k} AS MATERIALIZED (
  SELECT item, round(raw / m.mu, 6) AS p
  FROM __raw{k} CROSS JOIN
       (SELECT round(avg(raw), 6) AS mu FROM __raw{k}) m)""".strip())
    return f"""
WITH __m AS (
  {matches_sql}),
__s AS (SELECT winner AS i, loser AS j, count(*) AS w
        FROM __m GROUP BY 1, 2),
__u AS (SELECT i, j, CAST(sum(wij) AS BIGINT) AS wij FROM (
          SELECT i, j, w AS wij FROM __s
          UNION ALL SELECT j, i, 0 FROM __s) GROUP BY i, j),
__t AS (SELECT i, j, CAST(sum(wij) AS BIGINT) AS nij FROM (
          SELECT i, j, wij FROM __u
          UNION ALL SELECT j AS i, i AS j, wij FROM __u) GROUP BY i, j),
__pr AS (SELECT u.i, u.j, u.wij, t.nij
         FROM __u u JOIN __t t ON u.i = t.i AND u.j = t.j),
__w AS (SELECT i, CAST(sum(wij) AS BIGINT) AS wins FROM __pr GROUP BY i),
__bt0 AS (SELECT i AS item, CAST(1.0 AS DOUBLE) AS p FROM __w),
{",".join(iters)}
SELECT w.i AS item, w.wins, p.p AS strength
FROM __w w JOIN __bt{n_iter} p ON w.i = p.item
""".strip()


_register("bt_ranking", _q_bt_ranking, _bt_oracle())


def _q_script_profile(spark, sf_dir):
    """Writing-script histogram + dominant script over docs prefixed
    with cycling multi-script snippets (Cyrillic / Greek+CJK / Arabic /
    Hangul+Kana) so every range column does real work.  Counts are
    regexp-removal length differences; the oracle derives dominance
    with an independent priority CASE chain instead of the struct
    max."""
    from carbonapi_spark.datapipe.text import script_profile
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m = F.pmod(F.col("doc_id"), F.lit(4))
    snip = (F.when(m == 0, "привет мир ")
            .when(m == 1, "καλημέρα 日本語 ")
            .when(m == 2, "مرحبا بالعالم ")
            .otherwise("한국어 かな "))
    return script_profile(
        docs.select("doc_id", F.concat(snip, F.col("text")).alias("text")))


def _script_profile_oracle() -> str:
    from carbonapi_spark.datapipe.text import _SCRIPT_RANGES
    cols = ",\n       ".join(
        f"length(t) - length(regexp_replace(t, '[{cls}]', '', 'g'))"
        f" AS n_{name}" for name, cls in _SCRIPT_RANGES)
    names = [name for name, _ in _SCRIPT_RANGES]
    mx = "greatest(" + ", ".join(f"n_{n}" for n in names) + ")"
    chain = "\n            ".join(
        f"WHEN n_{n} = __mx THEN '{n}'" for n in names)
    return f"""
WITH __t AS (
  SELECT doc_id,
         CASE CAST(doc_id % 4 AS INT)
           WHEN 0 THEN 'привет мир '
           WHEN 1 THEN 'καλημέρα 日本語 '
           WHEN 2 THEN 'مرحبا بالعالم '
           ELSE '한국어 かな ' END || text AS t
  FROM documents),
__c AS (
  SELECT doc_id,
       {cols}
  FROM __t),
__m AS (SELECT *, {mx} AS __mx FROM __c)
SELECT doc_id, {", ".join(f"CAST(n_{n} AS BIGINT) AS n_{n}" for n in names)},
       CASE WHEN __mx = 0 THEN 'none'
            {chain}
       END AS dominant
FROM __m
""".strip()


_register("script_profile", _q_script_profile, _script_profile_oracle())


def _q_norm_unicode(spark, sf_dir):
    """Unicode NFC canonicalization (pre-dedup normalization): the doc
    text is prefixed with DECOMPOSED accents (e + U+0301 etc.) so the op
    has real work; Spark runs the Arrow-batched unicodedata kernel, the
    oracle replays with DuckDB's nfc_normalize.  A no-op kernel would
    leave the combining marks and hash-mismatch."""
    from carbonapi_spark.datapipe.text import normalize_unicode
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dirty = F.concat(F.lit("résumé — "), F.col("text"))
    return docs.where(F.col("doc_id") < 500).select(
        "doc_id", normalize_unicode(dirty).alias("norm_text"))


_register("norm_unicode", _q_norm_unicode, """
SELECT doc_id, nfc_normalize('résumé — ' || text)
       AS norm_text
FROM documents WHERE doc_id < 500
""".strip())


def _q_html_strip(spark, sf_dir):
    """Markup->prose cleaning: docs are wrapped in a deterministic HTML
    template (tags, a script block, a comment, entities) and stripped by
    the one-projection regexp chain; the oracle replays the SAME chain
    in RE2 (every pattern is portable — no backreferences)."""
    from carbonapi_spark.datapipe.text import html_strip
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    wrapped = F.concat(
        F.lit('<html><body><p class="x">'), F.col("text"),
        F.lit('</p><script type="text/javascript">var x = 1 < 2;'
              '</script><!-- note --> Tom &amp; co &lt;ok&gt;'
              '&nbsp;&quot;q&#39;s&quot;</body></html>'))
    return docs.where(F.col("doc_id") < 500).select(
        "doc_id", html_strip(wrapped).alias("clean"))


_register("html_strip", _q_html_strip, r"""
WITH __w AS (SELECT doc_id,
    '<html><body><p class="x">' || text ||
    '</p><script type="text/javascript">var x = 1 < 2;' ||
    '</script><!-- note --> Tom &amp; co &lt;ok&gt;' ||
    '&nbsp;&quot;q&#39;s&quot;</body></html>' AS h
  FROM documents WHERE doc_id < 500)
SELECT doc_id,
  trim(regexp_replace(
    replace(replace(replace(replace(replace(replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(h, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
          '(?s)<!--.*?-->', ' ', 'g'),
        '<[^>]*>', ' ', 'g'),
      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
      '&nbsp;', ' '), '&amp;', '&'),
    '[ \t\n\x0B\f\r]+', ' ', 'g')) AS clean
FROM __w
""".strip())


def _q_source_cap(spark, sf_dir):
    """Per-group quota sampling (cap hot domains): keep at most 20 docs
    per source, chosen by ascending xxhash64(doc_id) — deterministic,
    unbiased, exactly replayed by the SQL XXH64 + row_number."""
    from carbonapi_spark.datapipe.text import per_group_cap
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return per_group_cap(docs, 20).select("doc_id", "source")


def _source_cap_oracle() -> str:
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    return f"""
WITH __k AS (SELECT doc_id, source, CAST(doc_id AS VARCHAR) AS t
             FROM documents),
{xxh64_ctes('__k', 't', 'h64', '__x')}
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY h64, doc_id) AS rk
  FROM __x)
WHERE rk <= 20
""".strip()


_register("source_cap", _q_source_cap, _source_cap_oracle())


def _q_stream_dedup_replay(spark, sf_dir):
    """Streaming EXACT dedup on the driver scoreboard, via the
    availableNow replay pattern proved by ``stream_minhash_replay``:
    the documents slice runs through ``stream_dedup_exact``'s
    applyInPandasWithState kernel as a file stream, and the emitted
    content hashes are gathered with foreachBatch.  The kernel emits
    exactly ONE row per distinct content hash regardless of batch
    arrival, so the hash SET equals batch exact-dedup — the same
    invariant the restart pytest pins across checkpoints.  The keeper
    doc id is arrival-order-dependent within a micro-batch (streaming
    semantics: FIRST seen wins, not MIN id), so the scoreboard row
    checks the deterministic hash set."""
    import tempfile

    from carbonapi_spark.streaming.stateful import stream_dedup_exact
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "documents.parquet")
              .parquet(sf_dir)
              .where(F.col("doc_id") < 500))
    out = stream_dedup_exact(stream)
    rows: set = set()

    def sink(bdf, _bid):
        rows.update(r["h"] for r in bdf.select("h").collect())

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (out.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return _local_df(spark, [(h,) for h in sorted(rows)] or [],
                                 "h LONG")


def _stream_dedup_oracle() -> str:
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    return f"""
WITH __t AS (SELECT DISTINCT text AS t FROM documents WHERE doc_id < 500),
{xxh64_ctes('__t', 't', 'h64', '__xxh')}
SELECT DISTINCT h64 AS h FROM __xxh
""".strip()


_register("stream_dedup_replay", _q_stream_dedup_replay,
          _stream_dedup_oracle())


def _q_stream_sessionize_replay(spark, sf_dir):
    """STREAMING sessionize on the scoreboard: the events table replayed
    through the watermarked ``session_window`` aggregation (the
    engine-managed dynamic-gap merge — declarative streaming state, not
    a Python kernel) with an availableNow trigger.  Append mode emits a
    session once the watermark passes its end, so the replay yields
    exactly the batch sessions with ``session_end <= max(ts) - 1h`` —
    the final sessions stay open awaiting events that never come, which
    IS the streaming semantics (pinned here: the oracle applies the same
    watermark cutoff to the lag-gap-cumsum replay).  The parquet ts is
    TIMESTAMP_NTZ; watermarks require TIMESTAMP, hence the cast (session
    timezone is UTC in both engines)."""
    import tempfile

    from carbonapi_spark.streaming.sessions import sessionize
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir)
              .where(F.col("user_id") < 300)  # latency-shaped slice, like
              # the other replays: streaming semantics are the point, the
              # full-data session math is the batch `sessionize` entry
              .withColumn("ts", F.to_timestamp(F.col("ts"))))
    out = sessionize(stream, key_col="user_id", time_col="ts",
                     gap="4 hours", watermark="1 hour")
    rows: list = []

    def sink(bdf, _bid):
        rows.extend(bdf.withColumn("sum_value", F.round("sum_value", 6))
                    .collect())

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (out.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .outputMode("append")
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return _local_df(spark, 
        [(r["user_id"], r["session_start"], r["session_end"],
          r["n_events"], r["sum_value"]) for r in rows] or [],
        "user_id LONG, session_start LONG, session_end LONG, "
        "n_events LONG, sum_value DOUBLE")


_register("stream_sessionize_replay", _q_stream_sessionize_replay, """
WITH __src AS (SELECT * FROM events WHERE user_id < 300),
__e AS (SELECT user_id, ts, value,
                    CASE WHEN ts >= lag(ts) OVER w + INTERVAL 4 HOUR
                              OR lag(ts) OVER w IS NULL
                         THEN 1 ELSE 0 END AS new_s
             FROM __src
             WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
__s AS (SELECT user_id, ts, value,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM __e),
__sess AS (SELECT user_id, min(ts) AS st, max(ts) AS et,
                  count(*) AS n_events, round(sum(value), 6) AS sum_value
           FROM __s GROUP BY user_id, sid),
__wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM __src)
SELECT user_id,
       CAST(floor(epoch(st)) AS BIGINT) AS session_start,
       CAST(floor(epoch(et + INTERVAL 4 HOUR)) AS BIGINT) AS session_end,
       n_events, sum_value
FROM __sess CROSS JOIN __wm
WHERE et + INTERVAL 4 HOUR <= wm
""".strip())


def _q_stream_per_second_replay(spark, sf_dir):
    """Streaming perSecond on the scoreboard: a 4-series counter stream
    (keyed by event_id so timestamps are unique and monotonic per
    series) replayed through ``stream_per_second``'s
    applyInPandasWithState kernel.  The kernel sorts each Arrow chunk by
    ts and the slice (8000 events -> 2000 rows/series) fits one chunk,
    so the replay is arrival-order-free; wrap skipping (negative deltas
    dropped, seam still advances) is exercised by the unsorted values.
    Oracle = the lag-based rate with the same wrap rule."""
    import tempfile

    from carbonapi_spark.streaming.stateful import stream_per_second
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir)
              .where(F.col("event_id") < 8000)
              .select(F.concat(F.lit("e"),
                               (F.col("event_id") % 4).cast("string"))
                      .alias("name"),
                      F.col("event_id").alias("ts"),
                      F.col("value")))
    out = stream_per_second(stream)
    rows: list = []

    def sink(bdf, _bid):
        rows.extend(bdf.withColumn("value", F.round("value", 6)).collect())

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (out.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return _local_df(spark, 
        [(r["name"], r["ts"], r["value"]) for r in rows] or [],
        "name STRING, ts LONG, value DOUBLE")


_register("stream_per_second_replay", _q_stream_per_second_replay, """
WITH __s AS (SELECT 'e' || CAST(event_id % 4 AS VARCHAR) AS name,
                    event_id AS ts, value
             FROM events WHERE event_id < 8000),
__l AS (SELECT name, ts, value,
               lag(ts) OVER w AS pts, lag(value) OVER w AS pv
        FROM __s WINDOW w AS (PARTITION BY name ORDER BY ts))
SELECT name, ts, round((value - pv) / (ts - pts), 6) AS value
FROM __l
WHERE pts IS NOT NULL AND ts > pts AND value - pv >= 0
""".strip())


def _q_quantile_cutoffs(spark, sf_dir):
    """One-pass corpus quantile cutoffs (the CCNet threshold-derivation
    step): exact ``percentile`` over per-doc token counts — ONE
    ObjectHashAggregate, no global sort; ``exact=False`` swaps in the
    mergeable Greenwald-Khanna sketch for the 100 TB path with the same
    plan shape."""
    from carbonapi_spark.datapipe.text import quantile_thresholds, token_count
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    counts = docs.select(token_count(F.col("text")).cast("double")
                         .alias("n_tok"))
    qs = [0.25, 0.5, 0.75, 0.9]
    thr = quantile_thresholds(counts, "n_tok", qs)
    return (thr.select(F.posexplode("thresholds").alias("__i", "cutoff"))
            .select(F.element_at(F.array(*[F.lit(q) for q in qs]),
                                 F.col("__i") + 1).alias("q"), "cutoff"))


_register("quantile_cutoffs", _q_quantile_cutoffs, r"""
WITH __n AS (SELECT CAST(len(list_filter(regexp_split_to_array(lower(text),
                 '[ \t\n\x0B\f\r]+'), x -> x != '')) AS DOUBLE) AS n_tok FROM documents),
__c AS (SELECT quantile_cont(n_tok, [0.25, 0.5, 0.75, 0.9]) AS l FROM __n)
SELECT CAST(0.25 AS DOUBLE) AS q, round(l[1], 6) AS cutoff FROM __c
UNION ALL SELECT CAST(0.5 AS DOUBLE), round(l[2], 6) FROM __c
UNION ALL SELECT CAST(0.75 AS DOUBLE), round(l[3], 6) FROM __c
UNION ALL SELECT CAST(0.9 AS DOUBLE), round(l[4], 6) FROM __c
""".strip())


def _q_ppl_quantile_buckets(spark, sf_dir):
    """The fully self-contained CCNet split: cross-entropy scoring plus
    cutoffs DERIVED from the scored corpus itself via the one-pass
    quantile aggregation, then map-side bucketing — no ntile, no global
    sort anywhere in the plan (pinned in test_plan_shape)."""
    from carbonapi_spark.datapipe.text import perplexity_buckets
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return perplexity_buckets(docs, threshold_qs=[1 / 3, 2 / 3])


_register("ppl_quantile_buckets", _q_ppl_quantile_buckets, r"""
WITH __t AS (SELECT doc_id, unnest(list_filter(
                 string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'), x -> x != ''))
                 AS term
             FROM documents),
__tf AS (SELECT term, count(*) AS n FROM __t GROUP BY term),
__tot AS (SELECT sum(n) AS total, count(*) AS vocab FROM __tf),
__lm AS (SELECT term, ln((n + 0.5) / (total + 0.5 * vocab)) AS logp
         FROM __tf CROSS JOIN __tot),
__sc AS (SELECT doc_id, -avg(logp) AS h
         FROM __t JOIN __lm USING (term) GROUP BY doc_id),
__all AS (SELECT d.doc_id,
                 round(coalesce(h, (SELECT max(h) + 1 FROM __sc)), 6)
                 AS cross_entropy
          FROM documents d LEFT JOIN __sc USING (doc_id)),
__thr AS (SELECT round(quantile_cont(cross_entropy,
                                     0.3333333333333333), 6) AS t1,
                 round(quantile_cont(cross_entropy,
                                     0.6666666666666666), 6) AS t2
          FROM __all)
SELECT doc_id, cross_entropy,
       CAST(1 + (cross_entropy > t1)::INT + (cross_entropy > t2)::INT
            AS INTEGER) AS bucket
FROM __all CROSS JOIN __thr
""".strip())


def _q_curriculum(spark, sf_dir):
    """Curriculum training order: length-bucketed (shortest = easiest
    first — the classic curriculum heuristic), walked round-robin one
    doc at a time with a deterministic xxhash64 shuffle inside each
    bucket.  No global sort anywhere: exact quantile cutoffs (one agg),
    broadcast bucketing, per-bucket rank windows, arithmetic final
    key — all replayed exactly."""
    from carbonapi_spark.datapipe.sampling import curriculum_order
    from carbonapi_spark.datapipe.text import token_count
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    per = docs.select("doc_id",
                      token_count(F.col("text")).cast("long")
                      .alias("n_tokens"))
    return curriculum_order(per, "n_tokens", n_buckets=4)


def _curriculum_oracle() -> str:
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    return r"""
WITH __n AS (SELECT doc_id,
                    CAST(len(list_filter(string_split_regex(text,
                         '[ \t\n\x0B\f\r]+'), x -> x != '')) AS BIGINT)
                        AS n_tokens
             FROM documents),
__thr AS (SELECT round(quantile_cont(n_tokens, 0.25), 6) AS t1,
                 round(quantile_cont(n_tokens, 0.5), 6) AS t2,
                 round(quantile_cont(n_tokens, 0.75), 6) AS t3
          FROM __n),
__b AS (SELECT doc_id, n_tokens,
               CAST(1 + (n_tokens > t1)::INT + (n_tokens > t2)::INT
                    + (n_tokens > t3)::INT AS INTEGER) AS bucket
        FROM __n CROSS JOIN __thr),
__k AS (SELECT doc_id, n_tokens, bucket, CAST(doc_id AS VARCHAR) AS t
        FROM __b),
""" + xxh64_ctes('__k', 't', 'h64', '__x') + r"""
SELECT doc_id, n_tokens, bucket,
       CAST((row_number() OVER (PARTITION BY bucket
                                ORDER BY h64, doc_id) - 1) * 4 + bucket
            AS BIGINT) AS curriculum_rank
FROM __x
""".strip()


_register("curriculum", _q_curriculum, _curriculum_oracle())


def _q_jsonl_ingest(spark, sf_dir):
    """Source-format round trip on the scoreboard: documents are written
    out as a REAL line-delimited JSON dump (executor-side write), read
    back through ``read_jsonl_docs``'s PERMISSIVE corrupt-capture path,
    and re-keyed with content-derived ids.  The oracle replays the id
    hash from the original table — a broken JSON escape, schema drift,
    or id-derivation change breaks the match.  One deliberately corrupt
    line is appended per run and must land in quarantine (asserted here;
    the clean side the driver checks must NOT contain it)."""
    import tempfile

    from carbonapi_spark.sources.corpus import read_jsonl_docs, split_corrupt
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    with tempfile.TemporaryDirectory() as tmp:
        path = f"{tmp}/dump"
        docs.select("text", "lang", "source").coalesce(2) \
            .write.mode("overwrite").json(path)
        with open(f"{path}/corrupt.json", "w") as f:
            f.write("{this is not json\n")
        clean, bad = split_corrupt(read_jsonl_docs(spark, path))
        assert bad.count() == 1, "corrupt line must be quarantined"
        # materialize before the TemporaryDirectory vanishes
        rows = (clean.select("doc_id", "lang", "source").distinct()
                .collect())
    return _local_df(spark, rows, "doc_id LONG, lang STRING, "
                                       "source STRING")


def _jsonl_ingest_oracle() -> str:
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    return f"""
WITH __k AS (SELECT DISTINCT lang, source, 'doc:' || text AS t
             FROM documents),
{xxh64_ctes('__k', 't', 'h64', '__x')}
SELECT DISTINCT h64 AS doc_id, lang, source FROM __x
""".strip()


_register("jsonl_ingest", _q_jsonl_ingest, _jsonl_ingest_oracle())


def _q_kn_bigram_ppl(spark, sf_dir):
    """Interpolated Kneser-Ney bigram quality buckets — the smoothing
    real KenLM uses (absolute discounting + continuation-count backoff),
    one rung above the Jelinek-Mercer ``bigram_ppl``.  Every model
    quantity derives from the one bigram count table; the oracle replays
    discounting, continuation counts, and scoring exactly."""
    from carbonapi_spark.datapipe.text import kn_bigram_perplexity_buckets
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return kn_bigram_perplexity_buckets(docs, buckets=3)


_register("kn_bigram_ppl", _q_kn_bigram_ppl, r"""
WITH __d AS (SELECT doc_id,
                    list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0B\f\r]+'),
                                x -> x != '') AS toks
             FROM documents),
__bi AS (SELECT doc_id,
                unnest(list_transform(range(greatest(len(toks) - 1, 0)),
                                      j -> toks[j + 1] || ' ' || toks[j + 2]))
                AS g
         FROM __d),
__cb AS (SELECT g, count(*) AS nb FROM __cb_src GROUP BY g),
__lf AS (SELECT split_part(g, ' ', 1) AS w1, sum(nb) AS nw,
                count(*) AS n1l
         FROM __cb GROUP BY 1),
__ct AS (SELECT split_part(g, ' ', 2) AS w2, count(*) AS n1r
         FROM __cb GROUP BY 1),
__ty AS (SELECT count(*) AS types FROM __cb),
__sc AS (SELECT doc_id,
                -avg(ln(greatest(nb - 0.75, 0) / nw
                        + 0.75 * n1l / nw
                          * (n1r / CAST(types AS DOUBLE)))) AS h
         FROM __bi b
         JOIN __cb USING (g)
         JOIN __lf ON split_part(b.g, ' ', 1) = w1
         JOIN __ct ON split_part(b.g, ' ', 2) = w2
         CROSS JOIN __ty
         GROUP BY doc_id),
__all AS (SELECT d.doc_id,
                 round(coalesce(h, (SELECT max(h) + 1 FROM __sc), 0.0), 6)
                 AS cross_entropy
          FROM documents d LEFT JOIN __sc USING (doc_id))
SELECT doc_id, cross_entropy,
       CAST(ntile(3) OVER (ORDER BY cross_entropy, doc_id) AS INTEGER)
       AS bucket
FROM __all
""".replace("__cb_src", "__bi").strip())


def _q_kn_trigram_ppl(spark, sf_dir):
    """Interpolated Kneser-Ney TRIGRAM quality buckets with the full
    two-level recursion — the mid level scores continuation TYPES
    (distinct left contexts), not frequencies.  All five model tables
    derive from the one trigram count table; the oracle replays the
    discounting chain end to end."""
    from carbonapi_spark.datapipe.text import kn_trigram_perplexity_buckets
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return kn_trigram_perplexity_buckets(docs, buckets=3)


_register("kn_trigram_ppl", _q_kn_trigram_ppl, r"""
WITH __d AS (SELECT doc_id,
                    list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0B\f\r]+'),
                                x -> x != '') AS toks
             FROM documents),
__tr AS (SELECT doc_id,
                unnest(list_transform(range(greatest(len(toks) - 2, 0)),
                                      j -> toks[j + 1] || ' ' || toks[j + 2]
                                           || ' ' || toks[j + 3]))
                AS g
         FROM __d),
__ct AS (SELECT g, count(*) AS nt FROM __tr GROUP BY g),
__hi AS (SELECT split_part(g, ' ', 1) || ' ' || split_part(g, ' ', 2) AS b12,
                sum(nt) AS c12, count(*) AS n1h
         FROM __ct GROUP BY 1),
__mid AS (SELECT split_part(g, ' ', 2) || ' ' || split_part(g, ' ', 3) AS b23,
                 count(*) AS a23
          FROM __ct GROUP BY 1),
__w2t AS (SELECT split_part(b23, ' ', 1) AS w2, sum(a23) AS d2,
                 count(*) AS t2
          FROM __mid GROUP BY 1),
__uni AS (SELECT split_part(b23, ' ', 2) AS w3, count(*) AS n1u
          FROM __mid GROUP BY 1),
__ty AS (SELECT count(*) AS types FROM __mid),
__sc AS (SELECT doc_id,
                -avg(ln(greatest(nt - 0.75, 0) / c12
                        + 0.75 * n1h / c12
                          * (greatest(a23 - 0.75, 0) / d2
                             + 0.75 * t2 / d2
                               * (n1u / CAST(types AS DOUBLE))))) AS h
         FROM __tr t
         JOIN __ct USING (g)
         JOIN __hi ON split_part(t.g, ' ', 1) || ' '
                      || split_part(t.g, ' ', 2) = b12
         JOIN __mid ON split_part(t.g, ' ', 2) || ' '
                       || split_part(t.g, ' ', 3) = b23
         JOIN __w2t ON split_part(t.g, ' ', 2) = w2
         JOIN __uni ON split_part(t.g, ' ', 3) = w3
         CROSS JOIN __ty
         GROUP BY doc_id),
__all AS (SELECT d.doc_id,
                 round(coalesce(h, (SELECT max(h) + 1 FROM __sc), 0.0), 6)
                 AS cross_entropy
          FROM documents d LEFT JOIN __sc USING (doc_id))
SELECT doc_id, cross_entropy,
       CAST(ntile(3) OVER (ORDER BY cross_entropy, doc_id) AS INTEGER)
       AS bucket
FROM __all
""".strip())


def _q_decontaminate(spark, sf_dir):
    """Surgical benchmark decontamination (GPT-3 appendix C, 13-gram
    collisions — here k=8 at test scale): docs >= 100 are the training
    side, docs < 100 the benchmark; every doc_id%5==0 row on BOTH sides
    carries the shared tagline, so those training docs must lose exactly
    the tagline span while the rest of their text survives (doc-level
    dropping would discard them whole)."""
    from carbonapi_spark.datapipe.dedup import decontaminate_spans
    base = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id",
                    F.concat(F.col("text"),
                             F.when(F.col("doc_id") % 5 == 0,
                                    F.lit(" " + _TAGLINE))
                             .otherwise(F.lit(""))).alias("text")))
    train = base.where(F.col("doc_id") >= 100)
    bench = base.where(F.col("doc_id") < 100)
    return decontaminate_spans(train, bench, k=8)


_register("decontaminate", _q_decontaminate, rf"""
WITH __b AS (SELECT doc_id,
                    text || CASE WHEN doc_id % 5 = 0
                                 THEN ' {_TAGLINE}' ELSE '' END AS text
             FROM documents),
__bt AS (SELECT doc_id, {_TOKS_SQL.replace("(text)", "(text)")} AS toks
         FROM __b WHERE doc_id < 100),
__bp AS (SELECT doc_id, toks, unnest(range(len(toks))) AS pos FROM __bt),
__leak AS (SELECT DISTINCT array_to_string(toks[pos + 1 : pos + 8], ' ')
               AS g
           FROM __bp WHERE pos + 8 <= len(toks)),
__t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM __b WHERE doc_id >= 100),
__p AS (SELECT doc_id, toks, unnest(range(len(toks))) AS pos FROM __t),
__g AS (SELECT doc_id, pos, toks[pos + 1] AS tok,
               CASE WHEN pos + 8 <= len(toks)
                    THEN array_to_string(toks[pos + 1 : pos + 8], ' ')
               END AS g
        FROM __p),
__f AS (SELECT doc_id, pos, tok,
               CASE WHEN g IN (SELECT g FROM __leak) THEN 1 ELSE 0 END
                   AS leak
        FROM __g),
__c AS (SELECT doc_id, pos, tok,
               max(leak) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
               AS covered
        FROM __f)
SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
FROM __c WHERE covered = 0 GROUP BY doc_id
""".strip())


def _q_corpus_pipeline(spark, sf_dir):
    """The END-TO-END curation chain as one driver-checked entry — the
    composability proof: normalize -> min-length filter -> normalized
    dedup (min-id keeper) -> CCNet half-split with a self-derived
    quantile cutoff (head half kept) -> temperature mixing over lang
    (alpha=0.5) -> reproducible split labels.  Five stages, every one an
    existing catalog op, and the oracle replays the WHOLE chain exactly
    — stage boundaries can't hide a semantics drift."""
    from pyspark.sql.window import Window

    from carbonapi_spark.datapipe.dedup import normalize_text
    from carbonapi_spark.datapipe.sampling import (
        temperature_mix, train_val_test_split)
    from carbonapi_spark.datapipe.text import perplexity_buckets, token_count
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cleaned = (docs.withColumn("__norm", normalize_text(F.col("text")))
               .where(token_count(F.col("__norm")) >= 5))
    w = Window.partitionBy("__norm").orderBy("doc_id")
    survivors = (cleaned.withColumn("__rn", F.row_number().over(w))
                 .where(F.col("__rn") == 1).drop("__rn", "__norm"))
    from carbonapi_spark.datapipe import track_if_large
    # feeds LM training AND join-back: persist only at lake scale (the
    # bench-vs-lake duality — at sf0.1 the materialization barrier costs
    # ~4 s vs ~1 s of overlapped lazy recompute, A/B'd min-of-3)
    survivors = track_if_large(survivors, docs)
    scored = perplexity_buckets(survivors, threshold_qs=[0.5])
    head = (scored.where(F.col("bucket") == 1)
            .join(survivors.select("doc_id", "lang"), "doc_id"))
    mixed = temperature_mix(head, group_col="lang", alpha=0.5)
    return train_val_test_split(mixed, val=0.1, test=0.1) \
        .select("doc_id", "lang", "split")


def _corpus_pipeline_oracle() -> str:
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    return r"""
WITH __c AS (
  SELECT * FROM (
    SELECT doc_id, lang, text,
           trim(regexp_replace(regexp_replace(lower(text),
                                              '[^a-z0-9 \t\n\x0B\f\r]', '', 'g'),
                               '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
    FROM documents)
  WHERE len(list_filter(regexp_split_to_array(norm, '[ \t\n\x0B\f\r]+'),
                        x -> x != '')) >= 5),
__s AS (SELECT doc_id, lang, text FROM __c
        QUALIFY row_number() OVER (PARTITION BY norm ORDER BY doc_id) = 1),
__t AS (SELECT doc_id, unnest(list_filter(
            string_split_regex(lower(text), '[ \t\n\x0B\f\r]+'), x -> x != '')) AS term
        FROM __s),
__tf AS (SELECT term, count(*) AS n FROM __t GROUP BY term),
__tot AS (SELECT sum(n) AS total, count(*) AS vocab FROM __tf),
__lm AS (SELECT term, ln((n + 0.5) / (total + 0.5 * vocab)) AS logp
         FROM __tf CROSS JOIN __tot),
__sc AS (SELECT doc_id, -avg(logp) AS h
         FROM __t JOIN __lm USING (term) GROUP BY doc_id),
__all AS (SELECT s.doc_id, s.lang,
                 round(coalesce(h, (SELECT max(h) + 1 FROM __sc)), 6) AS ce
          FROM __s s LEFT JOIN __sc USING (doc_id)),
__thr AS (SELECT round(quantile_cont(ce, 0.5), 6) AS t1 FROM __all),
__head AS (SELECT doc_id, lang FROM __all CROSS JOIN __thr
           WHERE NOT (ce > t1)),
__mc AS (SELECT coalesce(lang, '') AS gk, lang IS NULL AS gnull,
                count(*) AS n
         FROM __head GROUP BY 1, 2),
__mm AS (SELECT min(n) AS nmin FROM __mc),
__mr AS (SELECT gk, gnull,
                CAST(round(pow(n / CAST(nmin AS DOUBLE), -0.5) * 1000000)
                     AS BIGINT) AS thresh
         FROM __mc CROSS JOIN __mm),
__gi AS (SELECT doc_id, lang, CAST(doc_id AS VARCHAR) AS t FROM __head),
""" + xxh64_ctes('__gi', 't', 'h64', '__gh') + r""",
__mixed AS (SELECT g.doc_id, g.lang
            FROM __gh g
            JOIN __mr r ON coalesce(g.lang, '') = r.gk
                       AND (g.lang IS NULL) = r.gnull
            WHERE ((h64 % 1000000) + 1000000) % 1000000 < r.thresh),
__si AS (SELECT doc_id, lang,
                'split:' || CAST(doc_id AS VARCHAR) AS t FROM __mixed),
""" + xxh64_ctes('__si', 't', 'h64s', '__sh').replace("__x", "__zx") + r"""
SELECT doc_id, lang,
       CASE WHEN ((h64s % 1000000) + 1000000) % 1000000 < 100000
            THEN 'val'
            WHEN ((h64s % 1000000) + 1000000) % 1000000 < 200000
            THEN 'test' ELSE 'train' END AS split
FROM __sh
""".strip()


_register("corpus_pipeline", _q_corpus_pipeline, _corpus_pipeline_oracle())


def _q_unigram_pieces(spark, sf_dir):
    """Unigram-LM tokenizer training (Kudo 2018 / SentencePiece), the
    integer-exact scoreboard surrogate: seed vocabulary from substring
    frequencies, then 2 rounds of Viterbi E-step (MDL objective:
    fewest pieces, then highest total frequency, then smallest piece
    string — all integer/string comparisons) + usage M-step + prune to
    the top 24 multi-char pieces.  The Viterbi DP is an F.aggregate
    fold over character positions (constant-size expression, zero
    UDFs); the oracle unrolls the same DP as one CTE per position with
    the identical (np, score DESC, pstr) tie rule."""
    from carbonapi_spark.datapipe.unigram import unigram_count_train
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return unigram_count_train(docs, iters=2)


def _unigram_dp_ctes(tag: str, vocab_cte: str, max_word_len: int = 16,
                     max_piece_len: int = 3) -> tuple[list[str], str]:
    """One unrolled Viterbi pass over __wt under ``vocab_cte``: returns
    (CTE list for positions 0..max_word_len tagged ``tag``, the finals
    union selecting each word's completed state)."""
    sep = "chr(31)"
    ctes = [f"""
__d{tag}_0 AS (SELECT word, cnt, 0 AS np, CAST(0 AS BIGINT) AS score,
                    {sep} AS pstr FROM __wt)""".strip()]
    for i in range(1, max_word_len + 1):
        branches = []
        for l in range(1, min(max_piece_len, i) + 1):
            branches.append(f"""
      SELECT d.word, d.cnt, d.np + 1 AS np, d.score + v.score AS score,
             d.pstr || v.piece || {sep} AS pstr
      FROM __d{tag}_{i - l} d JOIN {vocab_cte} v
        ON len(v.piece) = {l}
       AND v.piece = substr(d.word, {i - l + 1}, {l})
      WHERE len(d.word) >= {i}""".strip())
        ctes.append(f"""
__d{tag}_{i} AS MATERIALIZED (
  SELECT word, cnt, np, score, pstr FROM (
    SELECT *, row_number() OVER (PARTITION BY word
              ORDER BY np ASC, score DESC, pstr ASC) AS rn
    FROM ({(chr(10) + '      UNION ALL' + chr(10)).join(branches)}))
  WHERE rn = 1)""".strip())
    finals = "\n  UNION ALL ".join(
        f"SELECT * FROM __d{tag}_{i} WHERE len(word) = {i}"
        for i in range(1, max_word_len + 1))
    return ctes, finals


def _unigram_train_ctes(iters: int = 2, max_word_len: int = 16,
                        max_piece_len: int = 3, n_multi: int = 48,
                        keep_multi: int = 24) -> list[str]:
    """CTE chain ending at __v{iters}, the trained vocabulary — shared
    by the unigram_pieces and unigram_fertility oracles."""
    sep = "chr(31)"
    ctes = [f"""
__wt AS MATERIALIZED (
  SELECT tok AS word, count(*) AS cnt
  FROM {_BPE_TOKS_SQL}
  WHERE len(tok) <= {max_word_len}
  GROUP BY 1),
__cand AS MATERIALIZED (
  SELECT piece, sum(cnt) AS score
  FROM (SELECT cnt,
               unnest(flatten(list_transform(range(len(word)), i ->
                 list_transform(range(1, least({max_piece_len},
                                               len(word) - i) + 1),
                                l -> substr(word, i + 1, l))))) AS piece
        FROM __wt)
  GROUP BY 1),
__v0 AS MATERIALIZED (
  SELECT piece, score FROM (
    SELECT piece, score,
           row_number() OVER (ORDER BY score DESC, piece) AS rk
    FROM __cand)
  WHERE len(piece) = 1 OR rk <= {n_multi})""".strip()]
    for t in range(1, iters + 1):
        dp, finals = _unigram_dp_ctes(str(t), f"__v{t - 1}",
                                      max_word_len, max_piece_len)
        ctes.extend(dp)
        ctes.append(f"""
__u{t} AS MATERIALIZED (
  SELECT piece, sum(cnt) AS usage
  FROM (SELECT cnt, unnest(list_filter(string_split(pstr, {sep}),
                                       x -> x != '')) AS piece
        FROM ({finals}))
  GROUP BY 1),
__v{t} AS MATERIALIZED (
  SELECT s.piece, coalesce(u.usage, 0) AS score
  FROM (SELECT piece FROM __v{t - 1} WHERE len(piece) = 1) s
  LEFT JOIN __u{t} u USING (piece)
  UNION ALL
  SELECT piece, usage AS score FROM (
    SELECT piece, usage,
           row_number() OVER (ORDER BY usage DESC, piece) AS rk
    FROM __u{t} WHERE len(piece) > 1)
  WHERE rk <= {keep_multi})""".strip())
    return ctes


def _unigram_oracle(iters: int = 2) -> str:
    ctes = _unigram_train_ctes(iters)
    return ("WITH " + ",\n".join(ctes) + "\n"
            + f"SELECT CAST(row_number() OVER (ORDER BY score DESC, piece)"
              f" AS INT) AS rank, piece, CAST(score AS BIGINT) AS usage\n"
              f"FROM __v{iters} WHERE len(piece) > 1 ORDER BY rank")


_register("unigram_pieces", _q_unigram_pieces, _unigram_oracle())


def _q_unigram_fertility(spark, sf_dir):
    """Unigram-LM fertility report — completes the train / encode /
    fertility matrix for the THIRD tokenizer (BPE and WordPiece have
    theirs): train the integer-exact vocab (2 E/M rounds), segment the
    TYPE table once via the Viterbi fold, join piece counts onto
    per-doc occurrence counts.  The corpus never runs through the
    encode fold (the via_types strategy)."""
    from carbonapi_spark.datapipe import pin
    from carbonapi_spark.datapipe.bpe import ascii_word as _aw
    from carbonapi_spark.datapipe.text import tokens as _tok
    from carbonapi_spark.datapipe.unigram import (
        MAX_WORD_LEN, unigram_count_vocab, viterbi_expr)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # ONE corpus tokenize pass (r14): occ is pinned and feeds the
    # training word-type table (sum over docs of per-doc counts ==
    # word_types' corpus counts, same ascii/lower/length filters), the
    # distinct type list, and the final fertility join — previously
    # the explode ran three times (train + types + join)
    occ = pin(docs.select("doc_id",
                          F.explode(_tok(F.col("text"))).alias("token"))
              .where(_aw(F.col("token")))
              .select("doc_id", F.lower(F.col("token")).alias("token"))
              .where(F.length("token") <= MAX_WORD_LEN)
              .groupBy("doc_id", "token")
              .agg(F.count(F.lit(1)).alias("__cnt")))
    words = (occ.groupBy(F.col("token").alias("word"))
             .agg(F.sum("__cnt").alias("cnt")))
    vocab = unigram_count_vocab(docs, iters=2, words=words)
    types = occ.select(F.col("token").alias("t")).distinct()
    v = viterbi_expr("t", vocab)
    sizes = types.select(F.col("t").alias("token"),
                         v.getField("np").alias("__np"))
    return (occ.join(F.broadcast(sizes), "token")
            .groupBy("doc_id")
            .agg(F.sum("__cnt").alias("n_tokens"),
                 F.sum(F.col("__cnt") * F.col("__np")).alias("n_pieces"))
            .select("doc_id", "n_tokens", "n_pieces",
                    (F.col("n_pieces").cast("double")
                     / F.col("n_tokens")).alias("fertility")))


def _unigram_fertility_oracle(iters: int = 2) -> str:
    ctes = _unigram_train_ctes(iters)
    dp, finals = _unigram_dp_ctes("f", f"__v{iters}")
    ctes.extend(dp)
    ctes.append(f"""
__sz AS MATERIALIZED (SELECT word AS token, np FROM ({finals})),
__occ AS (SELECT doc_id, tok AS token, count(*) AS cnt
          FROM {_BPE_TOKS_SQL}
          WHERE len(tok) <= 16
          GROUP BY 1, 2)""".strip())
    return ("WITH " + ",\n".join(ctes) + """
SELECT o.doc_id,
       CAST(sum(o.cnt) AS BIGINT) AS n_tokens,
       CAST(sum(o.cnt * s.np) AS BIGINT) AS n_pieces,
       CAST(sum(o.cnt * s.np) AS DOUBLE) / sum(o.cnt) AS fertility
FROM __occ o JOIN __sz s USING (token)
GROUP BY o.doc_id""")


_register("unigram_fertility", _q_unigram_fertility,
          _unigram_fertility_oracle())


def _q_stream_join_replay(spark, sf_dir):
    """STREAM-STREAM watermarked interval join on the scoreboard: the
    purchase stream inner-joins the view stream of the same user where
    the view falls in the 24 h before the purchase — Structured
    Streaming buffers BOTH sides in the state store, keyed by user, and
    evicts by watermark + range (state is O(rate x window), not stream
    length).  Event time is floored to whole seconds on ingest (the
    generation-portable ts path), so the replay is exactly the
    second-granular inequality join the oracle computes."""
    import tempfile

    from carbonapi_spark.sources.testdata import epoch_seconds
    from carbonapi_spark.streaming.joins import stream_interval_join
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    schema = raw.schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    sec = epoch_seconds(stream)
    ev = stream.select("event_id", "user_id", "event_type", "value",
                       sec.alias("sec"),
                       F.timestamp_seconds(sec).alias("ets"))
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("p_id"), "user_id",
                         F.col("sec").alias("psec"),
                         F.col("ets").alias("pts")))
    views = (ev.where(F.col("event_type") == "view")
             .select(F.col("event_id").alias("v_id"),
                     F.col("user_id").alias("v_user"),
                     F.col("value").alias("view_value"),
                     F.col("sec").alias("vsec"),
                     F.col("ets").alias("vts")))
    joined = stream_interval_join(
        purchases, views.withColumnRenamed("v_user", "user_id"),
        by="user_id", left_ts="pts", right_ts="vts",
        lookback_s=86400, watermark_s=3600)
    rows: list = []

    def sink(bdf, _bid):
        rows.extend((int(r["user_id"]), int(r["p_id"]), int(r["v_id"]),
                     int(r["psec"]), int(r["vsec"]),
                     round(float(r["view_value"]), 6))
                    for r in bdf.collect())

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (joined.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return _local_df(spark, 
        sorted(rows) or [],
        "user_id LONG, p_id LONG, v_id LONG, psec LONG, vsec LONG, "
        "view_value DOUBLE")


_register("stream_join_replay", _q_stream_join_replay, """
WITH __e AS (SELECT event_id, user_id, event_type, value,
                    CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
__p AS (SELECT event_id AS p_id, user_id, sec AS psec FROM __e
        WHERE event_type = 'purchase'),
__v AS (SELECT event_id AS v_id, user_id, value, sec AS vsec FROM __e
        WHERE event_type = 'view')
SELECT p.user_id, p.p_id, v.v_id, p.psec, v.vsec,
       round(v.value, 6) AS view_value
FROM __p p JOIN __v v
  ON p.user_id = v.user_id
 AND v.vsec >= p.psec - 86400 AND v.vsec <= p.psec
""".strip())


def _q_embed_project(spark, sf_dir):
    """Fixed-point Johnson-Lindenstrauss random projection of the
    embedding table to 16 dims (Achlioptas ±1 signs from the MINSTD
    affine-mod generator): the inner reduction is an INTEGER sum of
    1e6-quantized coordinates, so the projection is order-independent
    and replays bit-for-bit — the storage-shrink step before ANN
    indexing at 100 TB (stateless, zero shuffles)."""
    from carbonapi_spark.datapipe.linalg import random_projection
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return random_projection(emb, out_dim=16)


def _embed_project_oracle(in_dim: int = 64, out_dim: int = 16) -> str:
    from carbonapi_spark.datapipe.linalg import jl_signs
    signs = jl_signs(in_dim, out_dim)
    mat = ("[" + ",".join(
        "[" + ",".join(f"{s}::BIGINT" for s in row) + "]"
        for row in signs) + "]")
    return f"""
WITH __v AS (SELECT vec_id,
                    list_transform(embedding::DOUBLE[],
                                   v -> CAST(round(v * 1000000) AS BIGINT))
                        AS q
             FROM embeddings),
__o AS (SELECT vec_id, q, unnest(range({out_dim})) AS odim FROM __v)
SELECT vec_id, CAST(odim AS INT) AS odim,
       CAST(list_sum(list_transform(range(len(q)), i ->
                 q[i + 1] * ({mat})[i + 1][odim + 1]))
            AS DOUBLE) / (1000000 * sqrt({out_dim}.0)) AS value
FROM __o
""".strip()


_register("embed_project", _q_embed_project, _embed_project_oracle())


def _q_embed_covariance(spark, sf_dir):
    """One-pass covariance of the 64 embedding coordinates: each row
    explodes into its 2080 upper-triangle quantized products
    (round(v_i*v_j*1e9) as int64) + 64 quantized first moments; both
    reductions are exact integer sums (order-independent — the
    quality_auc lesson), the finish is a fixed expression over exact
    operands.  Map-side combine bounds the shuffle at dim^2 keys per
    partition regardless of corpus size."""
    from carbonapi_spark.datapipe.linalg import covariance_matrix
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return covariance_matrix(emb)


_COV_CTES = """
__e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
__px AS (SELECT unnest(flatten(list_transform(range(len(v)), i ->
             list_transform(range(i, len(v)), j ->
               struct_pack(i := i, j := j,
                           q := CAST(round(v[i + 1] * v[j + 1]
                                           * 1000000000) AS BIGINT))))))
             AS s
         FROM __e),
__p AS (SELECT s.i AS i, s.j AS j, sum(s.q) AS sq, count(*) AS n
        FROM __px GROUP BY 1, 2),
__mx AS (SELECT unnest(list_transform(range(len(v)), i ->
             struct_pack(i := i,
                         m := CAST(round(v[i + 1] * 1000000000)
                                   AS BIGINT)))) AS s
         FROM __e),
__m AS (SELECT s.i AS i, sum(s.m) AS sm FROM __mx GROUP BY 1),
__cov AS (SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j,
       (p.sq / CAST(1e9 AS DOUBLE)
        - CAST(mi.sm AS DOUBLE) * CAST(mj.sm AS DOUBLE)
          / CAST(1e18 AS DOUBLE) / p.n)
       / (p.n - 0) AS cov
FROM __p p JOIN __m mi ON mi.i = p.i JOIN __m mj ON mj.i = p.j)
""".strip()

_register("embed_covariance", _q_embed_covariance,
          "WITH " + _COV_CTES + "\nSELECT i, j, cov FROM __cov")


def _q_embed_correlation(spark, sf_dir):
    """Pearson correlation over the exact one-pass covariance:
    corr_ij = cov_ij / sqrt(cov_ii * cov_jj); the diagonal joins back
    broadcast, so no corpus-sized work beyond embed_covariance."""
    from carbonapi_spark.datapipe.linalg import correlation_matrix
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return correlation_matrix(emb)


_register("embed_correlation", _q_embed_correlation,
          "WITH " + _COV_CTES + """
SELECT c.i, c.j,
       CASE WHEN di.cov * dj.cov > 0
            THEN c.cov / sqrt(di.cov * dj.cov) END AS corr
FROM __cov c
JOIN (SELECT i, cov FROM __cov WHERE i = j) di ON di.i = c.i
JOIN (SELECT j, cov FROM __cov WHERE i = j) dj ON dj.j = c.j""")


def _q_ab_test(spark, sf_dir):
    """A/B experiment readout: deterministic hash-parity arm
    assignment (xxhash64 of salt||user — the reproducible-bucketing
    recipe), conversion = >=1 purchase event, two-proportion pooled z.
    Exact integer counts; cvr/z are fixed closed-form IEEE expressions
    over them (raw doubles, bit-identical cross-engine)."""
    from carbonapi_spark.datapipe.events import ab_test
    from carbonapi_spark.sources.testdata import read_events
    return ab_test(read_events(spark, sf_dir))


def _ab_test_oracle() -> str:
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    return f"""
WITH __usr AS (SELECT DISTINCT user_id,
                      'exp1' || CAST(user_id AS VARCHAR) AS t
               FROM events),
{xxh64_ctes('__usr', 't', 'h64', '__xh')},
__arm AS (SELECT user_id, CAST(((h64 % 2) + 2) % 2 AS INT) AS arm
          FROM __xh),
__conv AS (SELECT user_id,
                  max(CASE WHEN event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS c
           FROM events GROUP BY 1),
__a AS (SELECT arm, count(*) AS n_users,
               CAST(sum(c) AS BIGINT) AS n_converted
        FROM __arm JOIN __conv USING (user_id) GROUP BY arm),
__t AS (SELECT CAST(sum(n_users) AS BIGINT) AS tn,
               CAST(sum(n_converted) AS BIGINT) AS tc FROM __a)
SELECT arm, n_users, n_converted, cvr,
       CASE WHEN se > 0 THEN num / se END AS z
FROM (SELECT a.arm, a.n_users, a.n_converted,
             CAST(a.n_converted AS DOUBLE) / a.n_users AS cvr,
             CAST(a.n_converted AS DOUBLE) / a.n_users
             - CAST(o.n_converted AS DOUBLE) / o.n_users AS num,
             sqrt((CAST(t.tc AS DOUBLE) / t.tn)
                  * (CAST(1 AS DOUBLE) - CAST(t.tc AS DOUBLE) / t.tn)
                  * (CAST(1 AS DOUBLE) / a.n_users
                     + CAST(1 AS DOUBLE) / o.n_users)) AS se
      FROM __a a JOIN __a o ON a.arm != o.arm, __t t)
ORDER BY arm
""".strip()


_register("ab_test", _q_ab_test, _ab_test_oracle())


_CUPED_SPLIT = 1705363200  # mid-January: pre/post covariate boundary


def _q_cuped(spark, sf_dir):
    """CUPED variance reduction (Deng et al. 2013): pre-period click
    counts regressed out of post-period click counts, theta pooled over
    both hash-assigned arms.  All four moments are exact int64 sums of
    integer per-user counts; theta and the adjusted means are fixed
    IEEE finishes — bit-identical cross-engine."""
    from carbonapi_spark.datapipe.events import cuped_adjusted_lift
    from carbonapi_spark.sources.testdata import epoch_seconds, read_events
    ev = read_events(spark, sf_dir)
    ev = ev.select("user_id", "event_type",
                   epoch_seconds(ev).alias("sec"))
    return cuped_adjusted_lift(ev, split_sec=_CUPED_SPLIT)


def _cuped_oracle() -> str:
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    s = _CUPED_SPLIT
    return f"""
WITH __usr AS (SELECT DISTINCT user_id,
                      'exp1' || CAST(user_id AS VARCHAR) AS t
               FROM events),
{xxh64_ctes('__usr', 't', 'h64', '__xh')},
__arm AS (SELECT user_id, CAST(((h64 % 2) + 2) % 2 AS INT) AS arm
          FROM __xh),
__xy AS (SELECT user_id,
                CAST(sum(CASE WHEN floor(epoch(ts)) < {s}
                               AND event_type = 'click'
                              THEN 1 ELSE 0 END) AS BIGINT) AS x,
                CAST(sum(CASE WHEN floor(epoch(ts)) >= {s}
                               AND event_type = 'click'
                              THEN 1 ELSE 0 END) AS BIGINT) AS y
         FROM events GROUP BY 1),
__mom AS (SELECT count(*) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(x * y) AS BIGINT) AS sxy
          FROM __xy),
__st AS (SELECT CASE WHEN CAST(n AS DOUBLE) * sxx
                          - CAST(sx AS DOUBLE) * sx > 0
                     THEN (CAST(n AS DOUBLE) * sxy
                           - CAST(sx AS DOUBLE) * sy)
                          / (CAST(n AS DOUBLE) * sxx
                             - CAST(sx AS DOUBLE) * sx)
                     ELSE 0.0 END AS theta,
                CAST(sx AS DOUBLE) / n AS xbar
         FROM __mom),
__a AS (SELECT a.arm, count(*) AS n_users,
               CAST(sum(u.y) AS BIGINT) AS sy,
               CAST(sum(u.x) AS BIGINT) AS sxa
        FROM __xy u JOIN __arm a USING (user_id) GROUP BY 1)
SELECT arm, n_users,
       CAST(sy AS DOUBLE) / n_users AS mean_y,
       CAST(sy AS DOUBLE) / n_users
       - theta * (CAST(sxa AS DOUBLE) / n_users - xbar) AS mean_y_adj,
       theta
FROM __a, __st
ORDER BY arm
""".strip()


_register("cuped_lift", _q_cuped, _cuped_oracle())


def _q_hll_merge_rollup(spark, sf_dir):
    """Mergeable-sketch algebra on the scoreboard: per-DAY HyperLogLog
    register tables over event user_ids are union-max-merged into one
    overall sketch, whose estimate must equal the direct one-pass
    estimate BIT-FOR-BIT (max is idempotent/commutative/associative) —
    the property that lets a 100 TB lake maintain distinct-counts
    incrementally per partition instead of rescanning.  Both rows ride
    in the output so the equality is driver-visible."""
    from carbonapi_spark.datapipe.sketch import (
        hll_distinct, hll_estimate, hll_merge, hll_registers)
    from carbonapi_spark.sources.testdata import epoch_seconds, read_events
    ev = read_events(spark, sf_dir)
    sec = epoch_seconds(ev)
    ev = ev.select("user_id", (sec - sec % 86400).alias("day"))
    daily = hll_registers(ev, "user_id", ("day",))
    merged = hll_estimate(hll_merge(daily), ()) \
        .select(F.lit("merged-daily").alias("scope"),
                "registers_used", "est_distinct")
    direct = hll_distinct(ev, "user_id") \
        .select(F.lit("direct").alias("scope"),
                "registers_used", "est_distinct")
    return merged.unionByName(direct)


def _hll_merge_oracle() -> str:
    """The merge is lossless, so BOTH scopes replay from ONE register
    table computed over distinct user_ids — Spark earning the same two
    rows via different plans (per-day sketches max-merged vs a direct
    pass) IS the losslessness proof."""
    from carbonapi_spark.datapipe.sketch import _hll_alpha
    from carbonapi_spark.oracle_xxh64 import xxh64_ctes
    m = 4096
    num_const = repr(_hll_alpha(m) * m * m * float(1 << 51))
    return f"""
WITH __val AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS t
               FROM events),
{xxh64_ctes('__val', 't', 'h64', '__xh')},
__u AS (SELECT ((h64 % 4611686018427387904) + 4611686018427387904)
               % 4611686018427387904 AS u
        FROM __xh),
__r AS (SELECT u % {m} AS reg,
               CASE WHEN u // {m} > 0
                    THEN 51 - length(bin(u // {m}))
                    ELSE 51 END AS rho
        FROM __u),
__m AS (SELECT reg, max(rho) AS mrho FROM __r GROUP BY reg),
__a AS (SELECT count(*) AS registers_used,
               sum(1::BIGINT << (51 - mrho)) AS s,
               {m} - count(*) AS zeros
        FROM __m),
__e AS (SELECT registers_used, zeros,
               {num_const}
               / CAST(s + zeros * (1::BIGINT << 51) AS DOUBLE) AS eraw
        FROM __a),
__f AS (SELECT registers_used,
               round(CASE WHEN eraw <= {2.5 * m} AND zeros > 0
                          THEN {m} * ln({float(m)} / CAST(zeros AS DOUBLE))
                          ELSE eraw END, 3) AS est_distinct
        FROM __e)
SELECT 'merged-daily' AS scope, registers_used, est_distinct FROM __f
UNION ALL
SELECT 'direct' AS scope, registers_used, est_distinct FROM __f
""".strip()


_register("hll_merge_rollup", _q_hll_merge_rollup, _hll_merge_oracle())


def _q_props_stats(spark, sf_dir):
    """Semi-structured JSON column processing: parse events.props
    ('{"k": 69}') with from_json — JVM-side, whole-stage codegen,
    malformed rows -> NULL not error — and aggregate the extracted
    integer per event type.  Sum/count are exact; the mean is one IEEE
    division of exact operands (raw double, bit-identical cross-engine)."""
    from carbonapi_spark.datapipe.events import props_stats
    from carbonapi_spark.sources.testdata import read_events
    return props_stats(read_events(spark, sf_dir))


_register("props_stats", _q_props_stats, """
SELECT event_type,
       count(*) AS n,
       count(TRY_CAST(json_extract(props, '$.k') AS BIGINT)) AS n_parsed,
       CAST(sum(TRY_CAST(json_extract(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_v,
       CAST(sum(TRY_CAST(json_extract(props, '$.k') AS BIGINT))
            AS DOUBLE)
           / count(TRY_CAST(json_extract(props, '$.k') AS BIGINT))
           AS mean_v
FROM events
GROUP BY event_type
""".strip())


def _q_fuzzy_pairs(spark, sf_dir):
    """Blocked Levenshtein record linkage: near-identical documents by
    edit distance over a 200-char normalized alnum key, candidates
    bounded by (4-char prefix, length band) blocking with the LSH-style
    per-block cap.  Levenshtein is JVM codegen on candidate pairs only;
    the key is ASCII-only so both engines' edit distance agrees
    char-for-char."""
    from carbonapi_spark.datapipe.dedup import fuzzy_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fuzzy_pairs(docs, max_dist=5, key_len=200)


def _fuzzy_pairs_oracle(max_dist: int = 5, key_len: int = 200,
                        prefix: int = 4, max_block: int = 1000) -> str:
    return f"""
WITH __k AS (
  SELECT doc_id AS id,
         substr(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'),
                1, {key_len}) AS k
  FROM documents),
__b AS (SELECT id, k,
               substr(k, 1, {prefix}) || '|'
               || CAST(floor(length(k) / {max_dist + 1}) AS VARCHAR) AS b
        FROM __k),
__c AS (SELECT id, k, b,
               row_number() OVER (PARTITION BY b ORDER BY id) AS rn
        FROM __b)
SELECT a.id AS id_a, x.id AS id_b,
       CAST(levenshtein(a.k, x.k) AS INT) AS dist
FROM __c a JOIN __c x USING (b)
WHERE a.id < x.id AND a.rn <= {max_block} AND x.rn <= {max_block}
  AND levenshtein(a.k, x.k) <= {max_dist}
""".strip()


_register("fuzzy_pairs", _q_fuzzy_pairs, _fuzzy_pairs_oracle())


def _q_kaplan_meier(spark, sf_dir):
    """Kaplan-Meier user-churn survival curve, daily periods with
    right-censoring in the final period.  Each factor is one IEEE
    divide of exact integers and S(t) folds the factor sequence in
    sorted order on both engines — bit-exact with no intermediate
    rounding."""
    from carbonapi_spark.datapipe.events import kaplan_meier
    from carbonapi_spark.sources.testdata import epoch_seconds, read_events
    ev = read_events(spark, sf_dir)
    return kaplan_meier(ev.select("user_id",
                                  epoch_seconds(ev).alias("sec")))


def _kaplan_meier_oracle(period_s: int = 86400) -> str:
    # cumulative survival product as a RECURSIVE CTE walking the
    # period-ranked factor table — strictly sequential ((f1*f2)*f3)...,
    # the exact order of the Spark fold (whose 1.0 init is a bitwise
    # no-op), with no list_reduce (the DuckDB-version-sensitive
    # construct purged from every driver-facing oracle in r10) and no
    # output rounding (a fixed-order IEEE chain is bit-identical as-is)
    return f"""
WITH RECURSIVE __u AS (SELECT user_id,
                    min(floor(epoch(ts))) AS f, max(floor(epoch(ts))) AS l
             FROM events GROUP BY user_id),
__e AS (SELECT max(l) AS e FROM __u),
__life AS (SELECT CAST(floor((l - f) / {period_s}) AS BIGINT) AS period,
                  CASE WHEN e - l < {period_s} THEN 1 ELSE 0 END AS c
           FROM __u, __e),
__cnt AS (SELECT period,
                 count(*) - sum(c) AS deaths, sum(c) AS censored
          FROM __life GROUP BY period),
__rk AS (SELECT period, deaths, censored,
                sum(deaths + censored) OVER (ORDER BY period
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                    AS at_risk
         FROM __cnt),
__rf AS (SELECT period,
                1.0 - CAST(deaths AS DOUBLE) / CAST(at_risk AS DOUBLE)
                    AS f,
                row_number() OVER (ORDER BY period) AS rn
         FROM __rk),
__sv AS (
  SELECT rn, period, f AS s FROM __rf WHERE rn = 1
  UNION ALL
  SELECT r.rn, r.period, v.s * r.f AS s
  FROM __sv v JOIN __rf r ON r.rn = v.rn + 1)
SELECT k.period, CAST(at_risk AS BIGINT) AS at_risk,
       CAST(deaths AS BIGINT) AS deaths,
       CAST(censored AS BIGINT) AS censored,
       v.s AS survival
FROM __rk k JOIN __sv v USING (period)
ORDER BY k.period
""".strip()


_register("kaplan_meier", _q_kaplan_meier, _kaplan_meier_oracle())


def _q_textrank(spark, sf_dir):
    """TextRank keyword extraction: integer fixed-point PageRank over
    the word co-occurrence graph.  Every step is int64 arithmetic
    (micro-unit ranks, div damping mix), so the 10-iteration trajectory
    replays bit-for-bit with no floating point anywhere."""
    from carbonapi_spark.datapipe.text import textrank_keywords
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return textrank_keywords(docs, k=20)


def _textrank_oracle(k: int = 20, window: int = 2, n_iter: int = 10,
                     damping_pct: int = 85, min_count: int = 3,
                     min_len: int = 4) -> str:
    az = "abcdefghijklmnopqrstuvwxyz"
    base = (100 - damping_pct) * 10_000
    pair_lists = ",\n      ".join(
        f"list_transform(range(greatest(len(a) - {off}, 0)),"
        f" i -> struct_pack(x := a[i + 1], y := a[i + {off + 1}]))"
        for off in range(1, window + 1))
    ctes = [f"""
__tok AS (
  SELECT list_filter(
           list_filter(string_split_regex(lower(text),
                                          '[ \\t\\n\\x0B\\f\\r]+'),
                       x -> x != ''),
           t -> length(t) >= {min_len}
                AND length(translate(t, '{az}', '')) = 0) AS a
  FROM documents),
__p AS (SELECT unnest(list_concat(
      {pair_lists})) AS p
  FROM __tok),
__cp AS (SELECT least(p.x, p.y) AS a, greatest(p.x, p.y) AS b
         FROM __p WHERE p.x != p.y),
__w AS (SELECT a, b, count(*) AS w FROM __cp GROUP BY 1, 2),
__v AS (SELECT t AS word
        FROM (SELECT unnest(a) AS t FROM __tok)
        GROUP BY t HAVING count(*) >= {min_count}),
__wv AS (SELECT __w.a, __w.b, __w.w FROM __w
         JOIN __v va ON __w.a = va.word
         JOIN __v vb ON __w.b = vb.word),
__und AS (SELECT a AS src, b AS dst, w FROM __wv
          UNION ALL SELECT b AS src, a AS dst, w FROM __wv),
__deg AS (SELECT src, sum(w) AS wdeg FROM __und GROUP BY src),
__e AS MATERIALIZED (SELECT src, dst, w, wdeg
                     FROM __und JOIN __deg USING (src)),
__r0 AS (SELECT src AS word, CAST(1000000 AS BIGINT) AS r FROM __deg)""".strip()]
    for i in range(1, n_iter + 1):
        ctes.append(f"""
__r{i} AS MATERIALIZED (
  SELECT e.dst AS word,
         CAST({base} + ({damping_pct}
              * sum((r.r * e.w) // e.wdeg)) // 100 AS BIGINT) AS r
  FROM __e e JOIN __r{i - 1} r ON e.src = r.word
  GROUP BY e.dst)""".strip())
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT word, r AS rank_micro, round(r / 1000000.0, 6) AS rank
FROM __r{n_iter} ORDER BY r DESC, word LIMIT {k}""")


_register("textrank", _q_textrank, _textrank_oracle())


def _q_pca_power(spark, sf_dir):
    """Dominant principal component by integer fixed-point power
    iteration over the exact one-pass covariance: the corpus-sized work
    is the covariance scan; the iteration is int64 arithmetic on the
    dim^2 table (collected like the k-means centroids), replayed
    bit-for-bit by the unrolled SQL below."""
    from carbonapi_spark.datapipe.linalg import pca_power_top
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pca_power_top(emb)


def _pca_power_ctes(n_iter: int = 12) -> str:
    """The full covariance -> quantize -> 12-iteration integer power
    trajectory as a WITH body (shared by pca_power and pca_extremes);
    ends with __pv{n}, __pm{n}, __sgn, __lam defined."""
    ctes = [_COV_CTES, """
__cmq AS (SELECT i, j, CAST(round(cov * 1000000) AS BIGINT) AS cm
          FROM __cov),
__cmf AS MATERIALIZED (
  SELECT i, j, cm FROM __cmq
  UNION ALL SELECT j AS i, i AS j, cm FROM __cmq WHERE i != j),
__pv0 AS (SELECT DISTINCT i AS d, CAST(1000000 AS BIGINT) AS v
          FROM __cmf)""".strip()]
    for t in range(1, n_iter + 1):
        ctes.append(f"""
__pu{t} AS MATERIALIZED (
  SELECT m.i AS d, sum(m.cm * x.v) AS u
  FROM __cmf m JOIN __pv{t - 1} x ON m.j = x.d GROUP BY m.i),
__pm{t} AS (SELECT max(abs(u)) AS m FROM __pu{t}),
__pv{t} AS MATERIALIZED (
  SELECT d, CAST(u // greatest(m // 1000000, 1) AS BIGINT) AS v
  FROM __pu{t}, __pm{t})""".strip())
    return (",\n".join(ctes) + f""",
__sgn AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS s
          FROM __pv{n_iter} ORDER BY abs(v) DESC, d LIMIT 1),
__lam AS (SELECT CASE WHEN vm > 0
                      THEN (CAST(m AS DOUBLE) / vm) / 1000000.0
                      ELSE 0.0 END AS lam
          FROM __pm{n_iter},
               (SELECT max(abs(v)) AS vm FROM __pv{n_iter - 1}))""")


def _pca_power_oracle(n_iter: int = 12) -> str:
    return ("WITH " + _pca_power_ctes(n_iter) + f"""
SELECT CAST(d AS INT) AS d, CAST(v * s AS BIGINT) AS loading_micro,
       round(CAST(v * s AS DOUBLE) / 1000000.0, 6) AS loading,
       round(lam, 6) AS eigenvalue
FROM __pv{n_iter}, __sgn, __lam ORDER BY d""")


_register("pca_power", _q_pca_power, _pca_power_oracle())


def _q_pca_extremes(spark, sf_dir):
    """The two ends of the dominant principal axis: sequential-fold
    projections onto the integer power-iteration loadings, two
    TakeOrdered(k) selections on deterministic bits — the whole
    covariance -> eigenvector -> projection chain replays in SQL."""
    from carbonapi_spark.datapipe.linalg import pca_extremes
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return pca_extremes(emb, k=10)


def _pca_extremes_oracle(k: int = 10, n_iter: int = 12) -> str:
    return ("WITH " + _pca_power_ctes(n_iter) + f""",
__pl AS (SELECT list_transform(list_sort(list(struct_pack(
                    d := d, v := CAST(v * s AS DOUBLE)))),
                e -> e.v) AS pl
         FROM __pv{n_iter}, __sgn),
__prj AS (SELECT vec_id,
                 list_reduce(list_prepend(0.0,
                     list_transform(range(len(v)),
                                    i -> v[i + 1] * pl[i + 1])),
                     (a, b) -> a + b) / 1000000.0 AS proj
          FROM (SELECT vec_id, embedding::DOUBLE[] AS v
                FROM embeddings), __pl),
__hi AS (SELECT 'high' AS side, vec_id, round(proj, 6) AS proj
         FROM __prj ORDER BY proj DESC, vec_id LIMIT {k}),
__lo AS (SELECT 'low' AS side, vec_id, round(proj, 6) AS proj
         FROM __prj ORDER BY proj ASC, vec_id LIMIT {k})
SELECT * FROM __hi UNION ALL SELECT * FROM __lo""")


_register("pca_extremes", _q_pca_extremes, _pca_extremes_oracle())


def _q_mad_outliers(spark, sf_dir):
    """Hampel/MAD robust outlier counts per event_type.  Medians are
    POSITIONAL row picks (lower median), never an engine median() —
    interpolation conventions differ, a row pick cannot; all other
    arithmetic is IEEE on exact parquet doubles, no rounding."""
    from carbonapi_spark.datapipe.events import mad_outliers
    from carbonapi_spark.sources.testdata import read_events
    return mad_outliers(read_events(spark, sf_dir))


def _q_stream_anomaly_replay(spark, sf_dir):
    """Streaming EWMA-threshold anomaly flags on the scoreboard: the
    events slice (ordered, one availableNow batch) runs through the
    applyInPandasWithState kernel; all state arithmetic is truncating
    int64, so the batch SQL struct-fold replays the flag set exactly."""
    import tempfile

    from carbonapi_spark.streaming.stateful import stream_ewma_anomaly
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir)
              .where(F.col("event_id") < 8000)
              .select(F.col("event_type").alias("key"),
                      F.col("event_id").alias("oid"),
                      F.round(F.col("value") * 1_000_000).cast("long")
                      .alias("x_micro")))
    out = stream_ewma_anomaly(stream)
    rows: list = []

    def sink(bdf, _bid):
        rows.extend(bdf.collect())

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (out.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return _local_df(spark, 
        [(r["key"], r["oid"], r["x_micro"], r["dev_micro"])
         for r in rows] or [],
        "key STRING, oid LONG, x_micro LONG, dev_micro LONG")


# Two DuckDB list_reduce hazards shape this fold (both probed on
# 1.0.0, captured in tests/test_oracle_folds.py):
#   1. The struct accumulator is mutated FIELD-BY-FIELD in textual
#      order — a later field reading acc.e sees the UPDATED e.  The
#      field order (fl, m, e, n) is chosen so every expression needs
#      only values that are still pre-update under that model, which
#      makes the fold correct under BOTH sequential-mutation and
#      all-from-old-acc semantics.
#   2. Accumulating a LIST OF STRUCTS inside the struct accumulator
#      silently corrupts the appended elements (zeroed structs, lost
#      prefix).  Flags therefore accumulate in a PACKED STRING
#      ('oid:dev;'), the same accumulator type as the proven BPE fold,
#      parsed back out after the fold.
# RECURSIVE-CTE state walk (not a list_reduce fold): the struct-
# accumulator multi-row fold this replaced is the construct that
# CORRUPTED cross-row state in stream_cusum_replay's oracle on DuckDB
# 1.0 (probed at sf0.001) — this one happened to match at both bench
# scales, but it is one data change away from the same silent
# corruption, so the class is purged.  Division semantics: DuckDB's
# ``//`` truncates toward zero (probed: -7 // 2 = -3), exactly the
# kernel's trunc_div.
_STREAM_ANOM_ORACLE = """
WITH RECURSIVE __s AS (
    SELECT event_type AS key, event_id AS oid,
           CAST(round(value * 1000000) AS BIGINT) AS x
    FROM events WHERE event_id < 8000),
__r AS (SELECT key, oid, x,
               row_number() OVER (PARTITION BY key ORDER BY oid) AS rn
        FROM __s),
__w AS (
  SELECT key, CAST(0 AS BIGINT) AS rn, CAST(0 AS BIGINT) AS e,
         CAST(0 AS BIGINT) AS m, CAST(0 AS BIGINT) AS n,
         CAST(NULL AS BIGINT) AS f_oid, CAST(NULL AS BIGINT) AS f_x,
         CAST(NULL AS BIGINT) AS f_dev
  FROM (SELECT DISTINCT key FROM __r)
  UNION ALL
  SELECT r.key, r.rn,
         CASE WHEN s.n = 0 THEN r.x
              ELSE s.e + (r.x - s.e) // 8 END,
         CASE WHEN s.n = 0 THEN CAST(0 AS BIGINT)
              ELSE s.m + (abs(r.x - s.e) - s.m) // 8 END,
         s.n + 1,
         CASE WHEN s.n >= 50 AND s.m > 0
                   AND abs(r.x - s.e) > 4 * s.m THEN r.oid END,
         CASE WHEN s.n >= 50 AND s.m > 0
                   AND abs(r.x - s.e) > 4 * s.m THEN r.x END,
         CASE WHEN s.n >= 50 AND s.m > 0
                   AND abs(r.x - s.e) > 4 * s.m
              THEN abs(r.x - s.e) END
  FROM __w s JOIN __r r ON r.key = s.key AND r.rn = s.rn + 1)
SELECT key, f_oid AS oid, f_x AS x_micro, f_dev AS dev_micro
FROM __w WHERE f_oid IS NOT NULL
""".strip()


_register("stream_anomaly_replay", _q_stream_anomaly_replay,
          _STREAM_ANOM_ORACLE)


def _q_stream_cov_replay(spark, sf_dir):
    """Streaming covariance maintenance: the Arrow integer partials are
    a MERGEABLE SKETCH (order-independent int64 sums), so a streaming
    aggregation maintains them across micro-batches and the finish is
    the byte-identical expression tree as the batch operator — replayed
    here against the batch oracle."""
    import tempfile

    from carbonapi_spark.datapipe.linalg import (_cov_partials_arrow,
                                                 cov_finish)
    schema = spark.read.parquet(f"{sf_dir}/embeddings.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "embeddings.parquet")
              .parquet(sf_dir))
    partials = _cov_partials_arrow(stream, "embedding")
    agg = partials.groupBy("i", "j").agg(F.sum("sq").alias("sq"),
                                         F.sum("n").alias("n"))
    state: list = []

    def sink(bdf, _bid):
        state.clear()
        state.extend(bdf.collect())

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (agg.writeStream.outputMode("complete")
                 .foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    prods = _local_df(spark, 
        [(r["i"], r["j"], r["sq"], r["n"]) for r in state if r["j"] >= 0]
        or [], "i INT, j INT, sq LONG, n LONG")
    sums = _local_df(spark, 
        [(r["i"], r["sq"]) for r in state if r["j"] == -1] or [],
        "i INT, sm LONG")
    return cov_finish(prods, sums)


_register("stream_cov_replay", _q_stream_cov_replay,
          "WITH " + _COV_CTES + "\nSELECT i, j, cov FROM __cov")


def _q_time_to_convert(spark, sf_dir):
    """Per-channel first-touch -> first-conversion latency: exact
    integer seconds, positional p50/p90 over the per-channel latency
    histogram, one IEEE division for the mean."""
    from carbonapi_spark.datapipe.events import time_to_convert
    from carbonapi_spark.sources.testdata import epoch_seconds, read_events
    ev = read_events(spark, sf_dir)
    ev = ev.select("user_id", "event_type", epoch_seconds(ev).alias("sec"))
    return time_to_convert(ev, "purchase", ["view", "click"])


_register("time_to_convert", _q_time_to_convert, """
WITH __t AS (SELECT user_id, event_type AS channel,
                    min(CAST(floor(epoch(ts)) AS BIGINT)) AS t
             FROM events WHERE event_type IN ('click', 'view')
             GROUP BY 1, 2),
__cv AS (SELECT user_id, min(CAST(floor(epoch(ts)) AS BIGINT)) AS cv
         FROM events WHERE event_type = 'purchase' GROUP BY 1),
__l AS (SELECT channel, cv - t AS l
        FROM __t JOIN __cv USING (user_id) WHERE cv >= t),
__h AS (SELECT channel, l, count(*) AS c FROM __l GROUP BY 1, 2),
__r AS (SELECT channel, l, c,
               sum(c) OVER (PARTITION BY channel ORDER BY l
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(c) OVER (PARTITION BY channel) AS n,
               l * c AS lc
        FROM __h),
__p50 AS (SELECT channel, min(l) AS p50_s FROM __r
          WHERE cum >= (1 * n + 1) // 2 GROUP BY channel),
__p90 AS (SELECT channel, min(l) AS p90_s FROM __r
          WHERE cum >= (9 * n + 9) // 10 GROUP BY channel),
__tot AS (SELECT channel, max(n) AS n_converted, sum(lc) AS s
          FROM __r GROUP BY channel)
SELECT t.channel, CAST(n_converted AS BIGINT) AS n_converted,
       p50_s, p90_s,
       CAST(s AS DOUBLE) / CAST(n_converted AS DOUBLE) AS mean_s
FROM __tot t JOIN __p50 USING (channel) JOIN __p90 USING (channel)
ORDER BY channel
""".strip())


def _q_key_skew(spark, sf_dir):
    """Join-key skew diagnostic for events.user_id: positional
    frequency quantiles, top-10 share, and an exact closed-form Gini
    over the frequency-of-frequency histogram."""
    from carbonapi_spark.datapipe.events import key_skew_report
    from carbonapi_spark.sources.testdata import read_events
    return key_skew_report(read_events(spark, sf_dir), "user_id")


_register("key_skew", _q_key_skew, """
WITH __f AS (SELECT user_id AS k, count(*) AS c FROM events GROUP BY 1),
__h AS (SELECT c, count(*) AS kn FROM __f GROUP BY c),
__r AS (SELECT c, kn,
               sum(kn) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cum,
               sum(kn) OVER () AS nk
        FROM __h),
__sums AS (SELECT sum(c * kn * (2 * (cum - kn) + kn + 1)) AS rw,
                  sum(c * kn) AS n, max(nk) AS nk
           FROM __r),
__mx AS (SELECT max(c) AS max_cnt FROM __f),
__p50 AS (SELECT min(c) AS p50_cnt FROM __r
          WHERE cum >= (1 * nk + 1) // 2),
__p99 AS (SELECT min(c) AS p99_cnt FROM __r
          WHERE cum >= (99 * nk + 99) // 100),
__tp AS (SELECT sum(c) AS topc FROM
         (SELECT c FROM __f ORDER BY c DESC, k LIMIT 10))
SELECT 'user_id' AS key_col, CAST(n AS BIGINT) AS n_rows,
       CAST(nk AS BIGINT) AS n_keys, CAST(max_cnt AS BIGINT) AS max_cnt,
       CAST(p50_cnt AS BIGINT) AS p50_cnt,
       CAST(p99_cnt AS BIGINT) AS p99_cnt,
       CAST(topc AS DOUBLE) / CAST(n AS DOUBLE) AS top_share,
       CAST(rw AS DOUBLE)
           / (CAST(nk AS DOUBLE) * CAST(n AS DOUBLE))
           - CAST(nk + 1 AS DOUBLE) / CAST(nk AS DOUBLE) AS gini
FROM __sums, __mx, __p50, __p99, __tp
""".strip())


def _q_dedup_agreement(spark, sf_dir):
    """Cross-detector dedup audit: pairwise set agreement (counts +
    Jaccard) between the MinHash-verified, SimHash, and fuzzy-
    Levenshtein near-dup pair sets — the 'are my detectors seeing the
    same duplicates?' report that decides which families need a second
    pass.

    ONE Spark job, not a driver loop: the three (distinct-by-
    construction) pair sets are union-tagged, one keyed aggregation
    flags each pair's detector membership, a 1-row aggregate sums every
    per-detector count and pairwise intersection at once, and the 3
    report rows explode from that row engine-side.  Each pair set is
    scanned exactly once (no persists needed); the old shape paid 9
    separate count/join actions (~5.9 s at sf0.1).  Jaccard is the raw
    IEEE division of exact int64 counts."""
    from carbonapi_spark.datapipe.dedup import (fuzzy_pairs,
                                                jaccard_verify,
                                                minhash_lsh_candidates,
                                                simhash_pairs)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    m = jaccard_verify(docs, minhash_lsh_candidates(
        docs, num_hashes=16, bands=4, ngram=2), ngram=2,
        threshold=0.2).select("id_a", "id_b")
    s = simhash_pairs(docs, bits=64, bands=4,
                      max_hamming=3).select("id_a", "id_b")
    f = fuzzy_pairs(docs, max_dist=5, key_len=200).select("id_a", "id_b")
    tagged = (f.select(F.lit("f").alias("__t"), "id_a", "id_b")
              .unionByName(m.select(F.lit("m").alias("__t"),
                                    "id_a", "id_b"))
              .unionByName(s.select(F.lit("s").alias("__t"),
                                    "id_a", "id_b")))
    per = tagged.groupBy("id_a", "id_b").agg(
        *[F.max((F.col("__t") == t).cast("long")).alias(t)
          for t in ("f", "m", "s")])
    agg = per.agg(F.sum("f").alias("cf"), F.sum("m").alias("cm"),
                  F.sum("s").alias("cs"),
                  F.sum(F.col("f") * F.col("m")).alias("i_fm"),
                  F.sum(F.col("f") * F.col("s")).alias("i_fs"),
                  F.sum(F.col("m") * F.col("s")).alias("i_ms"))

    def combo(a, b, ca, cb, i):
        return F.struct(F.lit(a).alias("method_a"),
                        F.lit(b).alias("method_b"),
                        F.col(ca).alias("n_a"), F.col(cb).alias("n_b"),
                        F.col(i).alias("n_both"))

    uni = F.col("n_a") + F.col("n_b") - F.col("n_both")
    jac = F.when(uni > 0, F.col("n_both").cast("double") / uni) \
        .otherwise(F.lit(0.0))
    return (agg.select(F.explode(F.array(
        combo("fuzzy", "minhash", "cf", "cm", "i_fm"),
        combo("fuzzy", "simhash", "cf", "cs", "i_fs"),
        combo("minhash", "simhash", "cm", "cs", "i_ms"))).alias("r"))
        .select("r.*")
        .select("method_a", "method_b", "n_a", "n_b", "n_both",
                jac.alias("jaccard"))
        .orderBy("method_a", "method_b"))


def _dedup_agreement_oracle() -> str:
    m = ORACLES["minhash_dedup"]
    s = ORACLES["simhash_pairs"]
    f = ORACLES["fuzzy_pairs"]
    return f"""
WITH __pm AS MATERIALIZED (SELECT id_a, id_b FROM ({m})),
__ps AS MATERIALIZED (SELECT id_a, id_b FROM ({s})),
__pf AS MATERIALIZED (SELECT id_a, id_b FROM ({f})),
__cm AS (SELECT count(*) AS c FROM __pm),
__cs AS (SELECT count(*) AS c FROM __ps),
__cf AS (SELECT count(*) AS c FROM __pf),
__i_fm AS (SELECT count(*) AS c FROM __pf JOIN __pm USING (id_a, id_b)),
__i_fs AS (SELECT count(*) AS c FROM __pf JOIN __ps USING (id_a, id_b)),
__i_ms AS (SELECT count(*) AS c FROM __pm JOIN __ps USING (id_a, id_b)),
__out AS (
  SELECT 'fuzzy' AS method_a, 'minhash' AS method_b,
         __cf.c AS n_a, __cm.c AS n_b, __i_fm.c AS n_both
  FROM __cf, __cm, __i_fm
  UNION ALL
  SELECT 'fuzzy', 'simhash', __cf.c, __cs.c, __i_fs.c
  FROM __cf, __cs, __i_fs
  UNION ALL
  SELECT 'minhash', 'simhash', __cm.c, __cs.c, __i_ms.c
  FROM __cm, __cs, __i_ms)
SELECT method_a, method_b, CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b, CAST(n_both AS BIGINT) AS n_both,
       CASE WHEN n_a + n_b - n_both > 0
            THEN CAST(n_both AS DOUBLE) / (n_a + n_b - n_both)
            ELSE 0.0 END AS jaccard
FROM __out ORDER BY method_a, method_b
""".strip()


_register("dedup_agreement", _q_dedup_agreement,
          _dedup_agreement_oracle())


def _q_isotonic(spark, sf_dir):
    """Isotonic (PAV) calibration of the LR quality score against the
    'spark'-mention label: exact integer violation tests (p*m > q*n),
    bin-table-sized driver PAV, unique-solution replay via the oracle's
    repeated-leftmost-merge."""
    from carbonapi_spark.datapipe.text import (isotonic_calibration,
                                               score_quality_lr, word_set)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = score_quality_lr(docs, _LR_WEIGHTS, _LR_BIAS)
    labeled = scored.join(
        docs.select("doc_id",
                    F.array_contains(word_set(F.col("text")), "spark")
                    .cast("int").alias("__y")), "doc_id")
    return isotonic_calibration(labeled, "lr_score", "__y")


def _isotonic_oracle(n_bins: int = 10) -> str:
    ctes = [f"""{_lr_logit_ctes()},
__lab AS (
  SELECT s.doc_id, {_LR_SCORE_SQL} AS p,
         CASE WHEN list_contains(list_distinct(list_filter(
                  string_split_regex(lower(d.text),
                                     '[ \\t\\n\\x0B\\f\\r]+'),
                  x -> x != '')), 'spark')
              THEN 1 ELSE 0 END AS y
  FROM __zm s JOIN documents d USING (doc_id)),
__cnt AS MATERIALIZED (
  SELECT CAST(least(floor(p * {n_bins}), {n_bins - 1}) AS INT) AS bin,
         count(*) AS n, sum(y) AS pos
  FROM __lab GROUP BY 1),
__ib0 AS (SELECT bin AS lo, bin AS hi, n, pos FROM __cnt)""".strip()]
    for t in range(1, n_bins):
        ctes.append(f"""
__iv{t} AS (SELECT lo AS v FROM (
    SELECT lo, n, pos, lead(n) OVER w AS ln, lead(pos) OVER w AS lp
    FROM __ib{t - 1} WINDOW w AS (ORDER BY lo))
  WHERE lp IS NOT NULL AND pos * ln > lp * n
  ORDER BY lo LIMIT 1),
__ib{t} AS MATERIALIZED (
  SELECT CASE WHEN v IS NOT NULL AND lo = v THEN lo ELSE lo END AS lo,
         CASE WHEN v IS NOT NULL AND lo = v THEN nhi ELSE hi END AS hi,
         CASE WHEN v IS NOT NULL AND lo = v THEN n + ln ELSE n END AS n,
         CASE WHEN v IS NOT NULL AND lo = v THEN pos + lp
              ELSE pos END AS pos
  FROM (SELECT lo, hi, n, pos,
               lead(hi) OVER w AS nhi, lead(n) OVER w AS ln,
               lead(pos) OVER w AS lp, lag(lo) OVER w AS plo
        FROM __ib{t - 1} WINDOW w AS (ORDER BY lo))
       LEFT JOIN __iv{t} ON TRUE
  WHERE plo IS NULL OR v IS NULL OR plo != v)""".strip())
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT c.bin, CAST(c.n AS BIGINT) AS n, CAST(c.pos AS BIGINT) AS pos,
       CAST(c.pos AS DOUBLE) / c.n AS raw_rate,
       CAST(b.pos AS DOUBLE) / b.n AS iso_rate
FROM __cnt c JOIN __ib{n_bins - 1} b
     ON c.bin BETWEEN b.lo AND b.hi
ORDER BY c.bin""")


_register("isotonic_calibration", _q_isotonic, _isotonic_oracle())


def _q_trimmed_stats(spark, sf_dir):
    """Per-type trimmed + winsorized means with positional integer
    quantile cutoffs over the one-pass value histogram — exact int64
    sums, one IEEE division per mean."""
    from carbonapi_spark.datapipe.events import trimmed_stats
    from carbonapi_spark.sources.testdata import read_events
    return trimmed_stats(read_events(spark, sf_dir))


_register("trimmed_stats", _q_trimmed_stats, """
WITH __h AS (SELECT event_type AS g,
                    CAST(round(value * 1000000) AS BIGINT) AS v,
                    count(*) AS c
             FROM events GROUP BY 1, 2),
__r AS (SELECT g, v, c,
               sum(c) OVER (PARTITION BY g ORDER BY v
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(c) OVER (PARTITION BY g) AS n
        FROM __h),
__lo AS (SELECT g, min(v) AS lo FROM __r
         WHERE cum >= (1 * n + 19) // 20 GROUP BY g),
__hi AS (SELECT g, min(v) AS hi FROM __r
         WHERE cum >= (19 * n + 19) // 20 GROUP BY g),
__a AS (SELECT r.g, max(n) AS n, max(lo) AS lo, max(hi) AS hi,
               sum(CASE WHEN v BETWEEN lo AND hi THEN v * c
                        ELSE 0 END) AS ts,
               sum(CASE WHEN v BETWEEN lo AND hi THEN c ELSE 0 END) AS tn,
               sum(greatest(least(v, hi), lo) * c) AS ws
        FROM __r r JOIN __lo USING (g) JOIN __hi USING (g)
        GROUP BY r.g)
SELECT g AS event_type, CAST(n AS BIGINT) AS n,
       CAST(lo AS DOUBLE) / 1000000.0 AS q_lo,
       CAST(hi AS DOUBLE) / 1000000.0 AS q_hi,
       CAST(ts AS DOUBLE) / tn / 1000000.0 AS trimmed_mean,
       CAST(ws AS DOUBLE) / n / 1000000.0 AS winsorized_mean
FROM __a ORDER BY 1
""".strip())


def _q_stream_cusum_replay(spark, sf_dir):
    """Online CUSUM drift flags on the scoreboard: the ordered events
    slice through the stream_cusum kernel (warmup-learned integer mean,
    integer slack/threshold); the batch SQL struct-fold replays the
    flag set bit-for-bit."""
    import tempfile

    from carbonapi_spark.streaming.stateful import stream_cusum
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir)
              .where(F.col("event_id") < 8000)
              .select(F.col("event_type").alias("key"),
                      F.col("event_id").alias("oid"),
                      F.round(F.col("value") * 1_000_000).cast("long")
                      .alias("x_micro")))
    out = stream_cusum(stream)
    rows: list = []

    def sink(bdf, _bid):
        rows.extend(bdf.collect())

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (out.writeStream.foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return _local_df(spark, 
        [(r["key"], r["oid"], r["x_micro"], r["sp"], r["sn"])
         for r in rows] or [],
        "key STRING, oid LONG, x_micro LONG, sp LONG, sn LONG")


def _stream_cusum_oracle(warmup: int = 50, slack_den: int = 20,
                         h_mult: int = 8) -> str:
    # RECURSIVE-CTE state walk, one row per (key, step) — NOT a
    # list_reduce fold: folding the 5 per-key event lists in one query
    # CONTAMINATED state across rows on DuckDB 1.0 (probed at sf0.001:
    # click and signup produced byte-identical flag lists despite
    # different warmup means; each key folded alone was correct).  The
    # recursion advances every key one event per iteration with
    # explicit scalar state columns, so there is no lambda-evaluation
    # model to disagree about; a flagging step also carries the flag
    # triple in dedicated columns (no string accumulator to corrupt).
    # Semantics match streaming/stateful.py stream_cusum exactly: mu =
    # trunc-toward-zero integer mean of the warmup prefix, kappa =
    # abs(mu) div slack_den, h = kappa * h_mult, reset on flag.
    kappa = f"(abs(s.mu) // {slack_den})"
    spc = (f"greatest(CAST(0 AS BIGINT), s.sp"
           f" + (r.x - s.mu - {kappa}))")
    snc = (f"greatest(CAST(0 AS BIGINT), s.sn"
           f" + (s.mu - r.x - {kappa}))")
    flag = (f"({kappa} * {h_mult} > 0 AND ({spc} > {kappa} * {h_mult}"
            f" OR {snc} > {kappa} * {h_mult}))")
    return f"""
WITH RECURSIVE __s AS (
    SELECT event_type AS key, event_id AS oid,
           CAST(round(value * 1000000) AS BIGINT) AS x
    FROM events WHERE event_id < 8000),
__r AS (SELECT key, oid, x,
               row_number() OVER (PARTITION BY key ORDER BY oid) AS rn
        FROM __s),
__w AS (
  SELECT key, CAST(0 AS BIGINT) AS rn,
         CAST(0 AS BIGINT) AS sp, CAST(0 AS BIGINT) AS sn,
         CAST(0 AS BIGINT) AS mu, CAST(0 AS BIGINT) AS n,
         CAST(NULL AS BIGINT) AS f_oid, CAST(NULL AS BIGINT) AS f_x,
         CAST(NULL AS BIGINT) AS f_sp, CAST(NULL AS BIGINT) AS f_sn
  FROM (SELECT DISTINCT key FROM __r)
  UNION ALL
  SELECT r.key, r.rn,
         CASE WHEN s.n < {warmup} THEN s.sp
              WHEN {flag} THEN CAST(0 AS BIGINT) ELSE {spc} END,
         CASE WHEN s.n < {warmup} THEN s.sn
              WHEN {flag} THEN CAST(0 AS BIGINT) ELSE {snc} END,
         CASE WHEN s.n < {warmup} THEN
                CASE WHEN s.n + 1 = {warmup} THEN
                       CASE WHEN s.mu + r.x >= 0
                            THEN (s.mu + r.x) // {warmup}
                            ELSE -((-(s.mu + r.x)) // {warmup}) END
                     ELSE s.mu + r.x END
              ELSE s.mu END,
         s.n + 1,
         CASE WHEN s.n >= {warmup} AND {flag} THEN r.oid END,
         CASE WHEN s.n >= {warmup} AND {flag} THEN r.x END,
         CASE WHEN s.n >= {warmup} AND {flag} THEN {spc} END,
         CASE WHEN s.n >= {warmup} AND {flag} THEN {snc} END
  FROM __w s JOIN __r r ON r.key = s.key AND r.rn = s.rn + 1)
SELECT key, f_oid AS oid, f_x AS x_micro, f_sp AS sp, f_sn AS sn
FROM __w WHERE f_oid IS NOT NULL
""".strip()


_register("stream_cusum_replay", _q_stream_cusum_replay,
          _stream_cusum_oracle())


def _q_session_paths(spark, sf_dir):
    """Top-20 session navigation paths (first 5 event types per
    4h-gap session): the sessionize gap logic via lag + running count
    so every event keeps its session id, then exact string paths."""
    from carbonapi_spark.datapipe.events import session_paths
    from carbonapi_spark.sources.testdata import epoch_seconds, read_events
    ev = read_events(spark, sf_dir)
    ev = ev.select("user_id", "event_id", "event_type",
                   epoch_seconds(ev).alias("sec"))
    return session_paths(ev, gap_s=4 * 3600, depth=5, k=20)


_register("session_paths", _q_session_paths, """
WITH __e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts,
                    event_id AS oid, event_type AS ty
             FROM events),
__f AS (SELECT user_id, ts, oid, ty,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts >= lag(ts) OVER w + 14400
                    THEN 1 ELSE 0 END AS ns
        FROM __e WINDOW w AS (PARTITION BY user_id ORDER BY ts, oid)),
__s AS (SELECT user_id, ts, oid, ty,
               sum(ns) OVER (PARTITION BY user_id ORDER BY ts, oid
                             ROWS UNBOUNDED PRECEDING) AS sid
        FROM __f),
__a AS (SELECT array_to_string(list_transform(
                   list_sort(list(struct_pack(ts := ts, oid := oid,
                                              ty := ty)))[1:5],
                   e -> e.ty), '>') AS path
        FROM __s GROUP BY user_id, sid)
SELECT path, count(*) AS n_sessions FROM __a GROUP BY path
ORDER BY n_sessions DESC, path LIMIT 20
""".strip())


def _q_fuzzy_clusters(spark, sf_dir):
    """Entity-resolution composition: blocked-Levenshtein candidate
    pairs -> connected components -> (doc, cluster, size) for every
    linked record — the fuzzy-matching counterpart of dedup_clusters
    (whose edges are exact shared shingles)."""
    from carbonapi_spark.datapipe.cluster import connected_components
    from carbonapi_spark.datapipe.dedup import fuzzy_pairs
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = fuzzy_pairs(docs, max_dist=5, key_len=200)
    cc = connected_components(edges, src="id_a", dst="id_b")
    sizes = cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    return (cc.select(F.col("node").alias("doc_id"), "cluster_id")
            .join(F.broadcast(sizes), "cluster_id")
            .select("doc_id", F.col("cluster_id").cast("long"),
                    F.col("size").cast("long")))


def _fuzzy_clusters_oracle() -> str:
    return f"""
WITH RECURSIVE
__fp AS MATERIALIZED ({_fuzzy_pairs_oracle()}),
__fe AS (SELECT id_a AS src, id_b AS dst FROM __fp
         UNION SELECT id_b AS src, id_a AS dst FROM __fp),
__walk(node, lbl) AS (
    SELECT src, src FROM __fe
    UNION
    SELECT e.dst, w.lbl FROM __walk w JOIN __fe e ON e.src = w.node
    WHERE w.lbl < e.dst),
__cc AS (SELECT node AS doc_id, min(lbl) AS cluster_id
         FROM __walk GROUP BY node),
__sz AS (SELECT cluster_id, count(*) AS size FROM __cc
         GROUP BY cluster_id)
SELECT doc_id, CAST(cluster_id AS BIGINT) AS cluster_id,
       CAST(size AS BIGINT) AS size
FROM __cc JOIN __sz USING (cluster_id)
""".strip()


_register("fuzzy_clusters", _q_fuzzy_clusters, _fuzzy_clusters_oracle())


def _q_cusum_changepoint(spark, sf_dir):
    """CUSUM mean-shift estimator per event_type: integer micro-unit
    cumulative deviation from the integer mean, argmax with earliest
    tie-break — exact end to end; means are IEEE divisions of exact
    integers."""
    from carbonapi_spark.datapipe.events import cusum_changepoint
    from carbonapi_spark.sources.testdata import epoch_seconds, read_events
    ev = read_events(spark, sf_dir)
    ev = ev.select("event_type", "event_id", "value",
                   epoch_seconds(ev).alias("sec"))
    return cusum_changepoint(ev)


_register("cusum_changepoint", _q_cusum_changepoint, """
WITH __b AS (SELECT event_type AS g,
                    CAST(round(value * 1000000) AS BIGINT) AS x,
                    CAST(floor(epoch(ts)) AS BIGINT) AS ts,
                    event_id AS oid
             FROM events),
__tot AS (SELECT g, sum(x) AS s, count(*) AS n,
                 sum(x) // count(*) AS mu
          FROM __b GROUP BY g),
__c AS (SELECT g, ts, oid,
               sum(x) OVER (PARTITION BY g ORDER BY ts, oid
                            ROWS UNBOUNDED PRECEDING) AS cum,
               row_number() OVER (PARTITION BY g ORDER BY ts, oid) AS t
        FROM __b),
__d AS (SELECT c.g, ts, oid, cum, t,
               abs(cum - t * mu) AS dev, s, n
        FROM __c c JOIN __tot USING (g) WHERE t < n),
__p AS (SELECT *, row_number() OVER (PARTITION BY g
                                     ORDER BY dev DESC, ts, oid) AS rn
        FROM __d)
SELECT g AS event_type, ts AS change_sec, oid AS change_id,
       CAST(t AS BIGINT) AS t_before, CAST(dev AS BIGINT) AS stat_micro,
       (CAST(cum AS DOUBLE) / t) / 1000000.0 AS mean_before,
       (CAST(s - cum AS DOUBLE) / (n - t)) / 1000000.0 AS mean_after
FROM __p WHERE rn = 1 ORDER BY 1
""".strip())


def _q_markov_attribution(spark, sf_dir):
    """Markov removal-effect attribution over user journeys
    (view/click touches, purchase conversion): integer fixed-point
    absorption probabilities, truncated at 16 iterations — the whole
    chain replays bit-for-bit as unrolled SQL."""
    from carbonapi_spark.datapipe.events import markov_attribution
    from carbonapi_spark.sources.testdata import epoch_seconds, read_events
    ev = read_events(spark, sf_dir)
    ev = ev.select("user_id", "event_id", "event_type",
                   epoch_seconds(ev).alias("sec"))
    return markov_attribution(ev, ["click", "view"], "purchase")


def _markov_oracle(touches: tuple = ("click", "view"),
                   conv: str = "purchase", n_iter: int = 16) -> str:
    keep = ", ".join(f"'{t}'" for t in sorted(set(touches) | {conv}))
    ctes = [f"""
__ej AS (SELECT user_id,
                list_sort(list(struct_pack(
                    ts := CAST(floor(epoch(ts)) AS BIGINT),
                    oid := event_id, ty := event_type))) AS a
         FROM events WHERE event_type IN ({keep})
         GROUP BY user_id),
__stt AS (SELECT list_concat(list_concat(
                ['START'],
                CASE WHEN cut > 0 THEN types[1:cut - 1] ELSE types END),
                [CASE WHEN cut > 0 THEN 'CONV' ELSE 'NULL' END])
                AS states
          FROM (SELECT list_transform(a, e -> e.ty) AS types,
                       coalesce(list_position(
                           list_transform(a, e -> e.ty), '{conv}'), 0)
                           AS cut
                FROM __ej)),
__prs AS (SELECT unnest(list_transform(range(len(states) - 1),
                 i -> struct_pack(s := states[i + 1],
                                  t := states[i + 2]))) AS p
          FROM __stt),
__tc AS MATERIALIZED (SELECT p.s AS s, p.t AS t, count(*) AS cnt
                      FROM __prs GROUP BY 1, 2),
__out AS (SELECT s, sum(cnt) AS o FROM __tc GROUP BY s),
__sts AS (SELECT DISTINCT s FROM (SELECT s FROM __tc
                                  UNION ALL SELECT t AS s FROM __tc))""".strip()]
    variants = [("none", None)] + [(f"c{i}", t)
                                   for i, t in enumerate(sorted(touches))]
    for vn, drop in variants:
        ctes.append(f"""
__p{vn}0 AS (SELECT s, CAST(CASE WHEN s = 'CONV' THEN 1000000
                                 ELSE 0 END AS BIGINT) AS p
             FROM __sts)""".strip())
        for i in range(1, n_iter + 1):
            pt = "p.p" if drop is None else \
                f"CASE WHEN e.t = '{drop}' THEN 0 ELSE p.p END"
            ctes.append(f"""
__q{vn}{i} AS (SELECT e.s, sum((e.cnt * {pt}) // o.o) AS v
               FROM __tc e JOIN __out o USING (s)
               JOIN __p{vn}{i - 1} p ON p.s = e.t
               GROUP BY e.s),
__p{vn}{i} AS MATERIALIZED (
  SELECT __sts.s,
         CAST(CASE WHEN __sts.s = 'CONV' THEN 1000000
                   WHEN __sts.s = 'NULL' THEN 0
                   ELSE coalesce(v, 0) END AS BIGINT) AS p
  FROM __sts LEFT JOIN __q{vn}{i} ON __q{vn}{i}.s = __sts.s)""".strip())
    drops_sql = "\nUNION ALL\n".join(
        f"SELECT '{t}' AS channel, "
        f"(SELECT p FROM __pnone{n_iter} WHERE s = 'START')"
        f" - (SELECT p FROM __pc{i}{n_iter} WHERE s = 'START') AS d"
        for i, t in enumerate(sorted(touches)))
    return ("WITH " + ",\n".join(ctes) + f""",
__dr AS ({drops_sql}),
__tt AS (SELECT sum(d) AS t FROM __dr),
__vv AS (SELECT p AS v FROM __pnone{n_iter} WHERE s = 'START')
SELECT channel, CAST(d AS BIGINT) AS conv_drop_micro,
       round(CASE WHEN v > 0 THEN CAST(d AS DOUBLE) / v
                  ELSE 0.0 END, 6) AS removal_effect,
       round(CASE WHEN t > 0 THEN CAST(d AS DOUBLE) / t
                  ELSE 0.0 END, 6) AS share
FROM __dr, __tt, __vv ORDER BY channel""")


_register("markov_attribution", _q_markov_attribution, _markov_oracle())


def _q_k_center(spark, sf_dir):
    """Greedy k-center (Gonzalez farthest-point) coreset over the
    embeddings table: k stateless corpus passes, centers broadcast as
    literals, exact sequential-fold distances, lowest-id tie-break —
    the whole greedy trajectory replays in SQL with no rounding."""
    from carbonapi_spark.datapipe.similarity import k_center_select
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return k_center_select(emb, k=8)


def _k_center_oracle(k: int = 8) -> str:
    d2 = ("list_reduce(list_prepend(0.0, list_transform(range(len(e.v)),"
          " i -> (e.v[i + 1] - c.v[i + 1]) * (e.v[i + 1] - c.v[i + 1]))),"
          " (x, y) -> x + y)")
    ctes = ["""
__ee AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v
                      FROM embeddings),
__ks1 AS MATERIALIZED (SELECT 1 AS rank, vec_id, 0.0 AS dist2
                       FROM __ee ORDER BY vec_id LIMIT 1)""".strip()]
    for t in range(2, k + 1):
        ctes.append(f"""
__kd{t} AS (
  SELECT e.vec_id, min({d2}) AS mind
  FROM __ee e
  JOIN __ee c ON c.vec_id IN (SELECT vec_id FROM __ks{t - 1})
  WHERE e.vec_id NOT IN (SELECT vec_id FROM __ks{t - 1})
  GROUP BY e.vec_id),
__kp{t} AS (SELECT {t} AS rank, vec_id, mind AS dist2 FROM __kd{t}
            ORDER BY mind DESC, vec_id LIMIT 1),
__ks{t} AS MATERIALIZED (SELECT * FROM __ks{t - 1}
                         UNION ALL SELECT * FROM __kp{t})""".strip())
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT CAST(rank AS INT) AS rank, vec_id, dist2 FROM __ks{k}""")


_register("k_center", _q_k_center, _k_center_oracle())


_register("mad_outliers", _q_mad_outliers, """
WITH __b AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
             FROM events),
__r1 AS (SELECT g, v,
                row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                count(*) OVER (PARTITION BY g) AS n
         FROM __b),
__med AS (SELECT g, v AS median, n FROM __r1
          WHERE rn = floor((n + 1) / 2)),
__d AS (SELECT b.g, abs(b.v - m.median) AS v
        FROM __b b JOIN __med m USING (g)),
__r2 AS (SELECT g, v,
                row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                count(*) OVER (PARTITION BY g) AS n
         FROM __d),
__mad AS (SELECT g, v AS mad FROM __r2
          WHERE rn = floor((n + 1) / 2)),
__f AS (SELECT b.g,
               sum(CASE WHEN abs(b.v - m.median) > 3.0 * d.mad
                        THEN 1 ELSE 0 END) AS n_outliers
        FROM __b b JOIN __med m USING (g) JOIN __mad d USING (g)
        GROUP BY b.g)
SELECT m.g AS event_type, CAST(m.n AS BIGINT) AS n, m.median, d.mad,
       CAST(f.n_outliers AS BIGINT) AS n_outliers
FROM __med m JOIN __mad d USING (g) JOIN __f f USING (g)
ORDER BY 1
""".strip())


# ---------------------------------------------------------------------------
# NOTE (r12): the round-11 driver-hash-divergence experiment scaffolding
# (hugeint_probe + 14 _v2/_ints/step1 clones) lived here through r11; the
# HUGEINT root cause is confirmed on both sides of the seam (driver rows in
# CORRECTNESS_r11.json + the pandas-path replica gate), so the probes were
# retired in r12.  The mechanism and the standing oracle-type rules are
# documented in SCALE.md "Round-11 findings" and enforced by
# tests/test_oracle_types.py.  History: commit 465285e.

# ---------------------------------------------------------------------------
# HDR-histogram quantile sketch (datapipe/sketch.py): the mergeable
# quantile companion to CMS/HLL/Bloom.  All bucket math is integer
# (bit_length via length(bin(v)), shifts) after one EXACT power-of-two
# fixed-point multiply, so the sketch replays bit-for-bit in DuckDB.

_HDR_BUCKET_CTES = """
__hv AS (SELECT event_type,
                CAST(floor(value * 1048576.0) AS BIGINT) AS v
         FROM events WHERE value IS NOT NULL AND value >= 0
           AND value < 8796093022208.0),
__hb AS (SELECT event_type,
                (v >> greatest(length(bin(v)) - 7, 0))
                  << greatest(length(bin(v)) - 7, 0) AS lb,
                count(*) AS cnt
         FROM __hv GROUP BY 1, 2)
""".strip()


def _q_hdr_quantiles(spark, sf_dir):
    """Per-event-type p50/p90/p99 of value read from the HDR sketch —
    one map-side-combined hash agg builds the bucket table (bounded by
    VALUE RANGE, not row count), then a sketch-sized cumulative
    window."""
    from carbonapi_spark.datapipe.sketch import hdr_buckets, hdr_quantiles
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    b = hdr_buckets(ev, "value", by=("event_type",))
    return hdr_quantiles(b, qs=(0.5, 0.9, 0.99), by=("event_type",))


_register("hdr_quantiles", _q_hdr_quantiles, f"""
WITH {_HDR_BUCKET_CTES},
__hc AS (SELECT event_type, lb, cnt,
                sum(cnt) OVER (PARTITION BY event_type ORDER BY lb) AS cum,
                sum(cnt) OVER (PARTITION BY event_type) AS n
         FROM __hb),
__hq AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q)
SELECT c.event_type, q.q AS q, min(c.lb) / 1048576.0 AS est,
       CAST(min(c.n) AS BIGINT) AS n
FROM __hc c, __hq q
WHERE c.cum >= ceil(q.q * c.n)
GROUP BY 1, 2
""".strip())


def _q_hdr_merge_rollup(spark, sf_dir):
    """Sketch MERGEABILITY on the scoreboard: per-event-type sketches
    merged by adding bucket counts, then global p50/p90/p99/p999 read
    from the merged sketch.  The oracle builds the global sketch
    directly from raw values — pointwise bucketing makes merge ==
    one-pass, so the two derivations must agree bit-for-bit (the same
    shard-then-merge contract hll_merge_rollup pins for HLL)."""
    from carbonapi_spark.datapipe.sketch import (hdr_buckets, hdr_merge,
                                                 hdr_quantiles)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    per_type = hdr_buckets(ev, "value", by=("event_type",))
    return hdr_quantiles(hdr_merge(per_type),
                         qs=(0.5, 0.9, 0.99, 0.999))


_register("hdr_merge_rollup", _q_hdr_merge_rollup, f"""
WITH {_HDR_BUCKET_CTES},
__hm AS (SELECT lb, sum(cnt) AS cnt FROM __hb GROUP BY lb),
__hc AS (SELECT lb, cnt,
                sum(cnt) OVER (ORDER BY lb) AS cum,
                sum(cnt) OVER () AS n
         FROM __hm),
__hq AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE,
                        0.999::DOUBLE]) AS q)
SELECT q.q AS q, min(c.lb) / 1048576.0 AS est,
       CAST(min(c.n) AS BIGINT) AS n
FROM __hc c, __hq q
WHERE c.cum >= ceil(q.q * c.n)
GROUP BY 1
""".strip())


def _q_stream_hdr_replay(spark, sf_dir):
    """Streaming HDR sketch on the driver scoreboard via the
    availableNow replay pattern: events stream through
    ``stream_hdr_buckets``'s stateful count kernel, the sink gathers
    the final bucket table, and ``hdr_quantiles`` reads per-type
    p50/p90/p99 from it.  Bucket counts merge by addition —
    commutative/associative — so the streamed sketch equals the batch
    sketch bit-for-bit and the oracle is the SAME SQL as
    ``hdr_quantiles``."""
    import tempfile

    from carbonapi_spark.datapipe.sketch import hdr_quantiles
    from carbonapi_spark.streaming.stateful import stream_hdr_buckets
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (spark.readStream.schema(schema)
              .option("pathGlobFilter", "events.parquet")
              .parquet(sf_dir))
    out = stream_hdr_buckets(stream, "value", "event_type")
    final: dict = {}

    def sink(bdf, _bid):
        for r in bdf.collect():
            k = (r["grp"], r["bucket_lo"])
            # running totals only grow; keep the latest (= max)
            final[k] = max(final.get(k, 0), r["cnt"])

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        with tempfile.TemporaryDirectory() as ckpt:
            q = (out.writeStream.outputMode("update")
                 .foreachBatch(sink)
                 .option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    buckets = _local_df(spark, 
        [(g, lb, c) for (g, lb), c in sorted(final.items())] or [],
        "event_type STRING, bucket_lo LONG, cnt LONG")
    return hdr_quantiles(buckets, qs=(0.5, 0.9, 0.99),
                         by=("event_type",))


_register("stream_hdr_replay", _q_stream_hdr_replay,
          ORACLES["hdr_quantiles"])

# ---------------------------------------------------------------------------
# Driver-visibility ordering. The correctness driver checks at most the first
# 50 catalog entries per round.  Rotation policy: the prefix lists ONLY the
# queries that need a (re-)verified driver row this round — queries that have
# never had one, plus queries whose physical plan or oracle changed since
# their last green row.  Everything else keeps its registration order and
# fills the remaining first-50 slots; those are all green in
# CORRECTNESS_r01.json ∪ CORRECTNESS_r02.json.  Keep this list well under 50.
_DRIVER_PREFIX = [
    # ---- round 15: must-verify (call paths changed this round) ----
    # The seven durable-index probes ride every r15 engine change
    # (expr cache, request-scoped memos, driver-side grid listing,
    # lazy post-rewrite stats — OPTIMIZATION_r15.md §1/§2/§8):
    "band_compact_probe",
    "ann_l0_probe",
    "ann_compact_probe",
    "ann_delete_probe",
    "ann_auto_route",
    "text_compact_probe",
    "stream_ann_replay",
    # plan-changed by the triangle-grid pair decomposition (§7):
    "fuzzy_pairs",
    "dedup_agreement",
    "fuzzy_clusters",
    # per-round plan changed by the broadcast-round work (§3/§4):
    "core_numbers",
    "label_prop",
    # postings read goes through read_index_table now (§8):
    "bm25_topk",
    # ---- round 15: slots owed from r14 (yielded to stay under cap) --
    "tiered_fetch",
    "pmi_top",
    "media_dsp",
    # ---- round 15: staleness rotation (tools/rotation.py order) ----
    # The remaining r07 block, then the oldest r09s; the three LM
    # movers VERDICT r14 #4 wanted driver numbers for
    # (ppl_quantile_buckets, kn_bigram_ppl, decontaminate) are in the
    # r07 block and land rows this round.  Pre-validated with the
    # round-gate chaos-knob strict pass at sf0.01.
    "split_assign",
    "code_detect",
    "norm_unicode",
    "html_strip",
    "source_cap",
    "stream_dedup_replay",
    "stream_sessionize_replay",
    "stream_per_second_replay",
    "quantile_cutoffs",
    "ppl_quantile_buckets",
    "jsonl_ingest",
    "kn_bigram_ppl",
    "decontaminate",
    "corpus_pipeline",
    "split_leakage",
    "stream_semantic_replay",
    "bloom_filter",
    "stream_cms_replay",
    "budget_select",
    "js_drift",
    "hard_negatives",
    "funnel_conv",
    "attribution",
    "stream_attribution_replay",
    "stream_funnel_replay",
    "stream_quota_replay",
    "rfm_segments",
    "window_join",
    "asof_join",
    "url_canonical",
    "domain_stats",
    "triangles",
    "corpus_diff",
    "readability",
]
# The driver checks at most _DRIVER_CAP rows per round; test_entry.py pins
# len(_DRIVER_PREFIX) <= cap so additions can never silently evict entries
# again (the round-6 lesson: a 54-long prefix dropped 4 queries unnoticed).
_DRIVER_CAP = 50


def _reorder_for_driver() -> None:
    global QUERIES, ORACLES
    order = [n for n in _DRIVER_PREFIX if n in QUERIES]
    order += [n for n in QUERIES if n not in set(order)]
    QUERIES = {n: QUERIES[n] for n in order}
    ORACLES = {n: ORACLES[n] for n in order if n in ORACLES}


_reorder_for_driver()
