"""Custom stateful streaming operators via ``applyInPandasWithState``.

These are the operators Structured Streaming's built-in windowed
aggregations can't express: they need arbitrary per-key state carried
across micro-batches. Keyed state lives in the state store (checkpointed,
partitioned by key — scales horizontally with executors); the Python
kernel sees one Arrow batch per key per trigger.

The reference has no streaming machinery at all (its carbon daemons are
separate ingestion processes), so these extend the engine the way a
training-data pipeline needs: stream dedup (exact + MinHash + semantic),
counter->rate conversion, sessionization, attribution, funnels, source
quotas, CMS/HLL sketch maintenance, and the EWMA-anomaly / CUSUM-drift
monitors.  Every kernel keeps integer (or integer-quantized) state so an
ordered batch replay reproduces its output bit-for-bit — the catalog's
stream_*_replay entries are exactly those replays, and
tests/test_oracle_folds.py pins the three DuckDB list_reduce hazards the
replay oracles are written to dodge.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

DEDUP_OUT = "h LONG, doc_id LONG"
DEDUP_STATE = "seen BYTE"

RATE_OUT = "name STRING, ts LONG, value DOUBLE"
RATE_STATE = "last_ts LONG, last_v DOUBLE"


def stream_dedup_exact(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text",
                       state_ttl_ms: int | None = None) -> DataFrame:
    """Exact dedup over an unbounded document stream: the first document
    per content hash is emitted, every later duplicate (same or any later
    micro-batch) is dropped.

    State per key is one byte; ``state_ttl_ms`` sets a processing-time
    timeout so keys idle longer than the TTL are evicted — the knob that
    bounds total state on an unbounded stream (re-admitting a duplicate
    only after the TTL, the standard streaming-dedup trade)."""

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        seen = state.exists
        for pdf in pdfs:
            if len(pdf) and not seen:
                seen = True
                yield pd.DataFrame({"h": pdf["__h"].iloc[:1],
                                    "doc_id": pdf[id_col].iloc[:1]})
        if not state.exists:
            state.update((1,))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if state_ttl_ms is not None else GroupStateTimeout.NoTimeout)
    hashed = docs.withColumn("__h", F.xxhash64(F.col(text_col)))
    return (hashed.groupBy("__h")
            .applyInPandasWithState(fn, DEDUP_OUT, DEDUP_STATE,
                                    "append", timeout))


def stream_per_second(series: DataFrame) -> DataFrame:
    """Streaming ``perSecond()``: counter -> rate, remembering the previous
    (ts, value) sample per series across micro-batches. Negative deltas
    (counter reset) emit NaN-free nulls like the batch operator
    (reference perSecond/function.go:50: wraps are skipped).

    Input: streaming (name STRING, ts LONG, value DOUBLE)."""

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        last_ts, last_v = state.get if state.exists else (None, None)
        # gather the group's Arrow chunks before sorting: a series with
        # >maxRecordsPerBatch rows in one batch would otherwise be
        # sorted per chunk, and a time-earlier sample in a later chunk
        # would read as a wrap and silently skip emission
        chunks = [p for p in pdfs if len(p)]
        for pdf in ([pd.concat(chunks, ignore_index=True)]
                    if chunks else []):
            # NULL samples arrive in the DOUBLE column as NaN — notna()
            # drops both, so a gap never overwrites the last good sample
            # (batch perSecond skips nulls the same way).
            valid = pdf[pdf["value"].notna()].sort_values("ts")
            if not len(valid):
                continue
            ts = valid["ts"].to_numpy()
            v = valid["value"].astype("float64").to_numpy()
            if last_ts is not None:
                ts = np.concatenate(([last_ts], ts))
                v = np.concatenate(([last_v], v))
            dts = np.diff(ts)
            dv = np.diff(v)
            # wraps (counter reset) and non-advancing timestamps skip
            # emission but still advance the last-sample seam
            mask = (dts > 0) & (dv >= 0)
            if mask.any():
                yield pd.DataFrame({"name": key[0], "ts": ts[1:][mask],
                                    "value": dv[mask] / dts[mask]})
            last_ts, last_v = int(ts[-1]), float(v[-1])
        if last_ts is not None:
            state.update((int(last_ts), float(last_v)))

    return (series.groupBy("name")
            .applyInPandasWithState(fn, RATE_OUT, RATE_STATE,
                                    "append", GroupStateTimeout.NoTimeout))


CAND_OUT = "band INT, key STRING, id_a LONG, id_b LONG"
CAND_STATE = "ids ARRAY<BIGINT>"


def stream_minhash_candidates(docs: DataFrame, id_col: str = "doc_id",
                              text_col: str = "text", num_hashes: int = 16,
                              bands: int = 4, ngram: int = 3,
                              seed: int = 42, max_bucket: int = 512,
                              state_ttl_ms: int | None = None) -> DataFrame:
    """Streaming near-dup candidates: the unbounded twin of
    ``datapipe.dedup.minhash_lsh_candidates``. Each arriving document is
    banded into its LSH buckets; a bucket's prior members live in keyed
    state, so a new member emits (prior, new) candidate pairs the moment
    it lands — across micro-batches and checkpointed restarts.

    Signatures use the per-row HOF kernel (``minhash_signature``) rather
    than batch's explode->groupBy shape: a streaming groupBy(doc) would
    itself be a stateful aggregation, while the HOF is a stateless
    projection — latency-shaped, same numbers (shared ``_affine_params``).

    State per key is the bucket's member ids, truncated at ``max_bucket``
    (overflow docs still pair with the retained members, like the batch
    truncation); ``state_ttl_ms`` evicts idle buckets to bound total
    state. A pair can surface once per band it collides in — feed pairs
    to a downstream pair-dedup / Jaccard verify stage, exactly like the
    batch pipeline's ``.distinct()`` + ``jaccard_verify``."""
    from carbonapi_spark.datapipe.dedup import minhash_signature

    rows_per_band = num_hashes // bands
    sig = minhash_signature(F.col(text_col), num_hashes, ngram, seed)
    banded = (docs.select(F.col(id_col).alias("doc_id"), sig.alias("__sig"))
              .selectExpr(
                  "doc_id",
                  f"""explode(transform(sequence(0, {bands - 1}),
                        b -> struct(b as band,
                                    array_join(cast(slice(__sig,
                                        b * {rows_per_band} + 1,
                                        {rows_per_band}) as array<string>),
                                        ',') as key))) as bk""")
              .selectExpr("bk.band as band", "bk.key as key", "doc_id"))

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        ids = list(state.get[0]) if state.exists else []
        known = set(ids)
        out_a: list[int] = []
        out_b: list[int] = []
        for pdf in pdfs:
            for d in pdf["doc_id"]:
                d = int(d)
                if d in known:
                    continue
                out_a.extend(min(p, d) for p in ids)
                out_b.extend(max(p, d) for p in ids)
                known.add(d)
                if len(ids) < max_bucket:
                    ids.append(d)
        if out_a:
            yield pd.DataFrame({"band": key[0], "key": key[1],
                                "id_a": out_a, "id_b": out_b})
        state.update((ids,))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if state_ttl_ms is not None else GroupStateTimeout.NoTimeout)
    return (banded.groupBy("band", "key")
            .applyInPandasWithState(fn, CAND_OUT, CAND_STATE,
                                    "append", timeout))


SEM_OUT = "vec_id LONG, cell INT, keep BOOLEAN, matched_id LONG"
SEM_STATE = "ids ARRAY<BIGINT>, vecs ARRAY<ARRAY<DOUBLE>>"


def stream_semantic_dedup(vecs: DataFrame, dim: int = 64,
                          n_centroids: int = 16, tau: float = 0.95,
                          cell_seed: int = 43, max_cell: int = 10_000,
                          id_col: str = "vec_id",
                          vec_col: str = "embedding",
                          state_ttl_ms: int | None = None,
                          ordered: bool = False) -> DataFrame:
    """Streaming SemDeDup: the unbounded twin of
    ``datapipe.similarity.semantic_dedup``. Each arriving embedding is
    assigned its coarse cell by a STATELESS projection (same seeded
    spherical quantizer + L2 normalize as batch); the cell's prior
    members live in keyed state, so the vector is scored against them
    the moment it lands — keep=False with ``matched_id`` (the closest
    member) when some member reaches ``tau`` cosine.

    Every arrival is added to state (up to ``max_cell``) whether or not
    it was a duplicate, mirroring the batch greedy rule where dropped
    docs still block later ones; with id-ordered arrival the keep set
    equals the batch ``semantic_dedup`` exactly. State per cell is the
    member matrix (max_cell x dim doubles) — bound it with ``max_cell``
    and ``state_ttl_ms`` like the MinHash bucket state. Scoring is one
    numpy mat-vec per arrival (members are normalized, so cosine = dot).
    Zero vectors keep and match nothing (undefined direction).

    ``ordered=True`` is the DETERMINISTIC-REPLAY mode: each batch's
    arrivals are processed in ascending id within their cell, so with a
    single availableNow batch (or any id-ascending feed) the keep set
    equals batch ``semantic_dedup`` exactly regardless of partitioning —
    what puts this op on the oracle scoreboard.  The default keeps true
    arrival-order streaming semantics (first seen wins)."""
    import numpy as np

    from carbonapi_spark.datapipe.similarity import (
        cell_normalized_projection)
    base = (cell_normalized_projection(vecs, id_col, vec_col, dim,
                                       n_centroids, cell_seed)
            .selectExpr(f"{id_col} as vec_id", "cell", "__nv as nv"))

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ids = list(state.get[0])
            stored = [list(r) for r in state.get[1]]
        else:
            ids, stored = [], []
        # guard the empty-but-existing case: np.array([]) loses the
        # (0, dim) shape (a batch of only zero vectors persists empty
        # state, and the next arrival would crash the matmul)
        base_mat = (np.array(stored, dtype=float) if stored
                    else np.zeros((0, dim), dtype=float))
        new_ids: list[int] = []
        new_rows: list = []
        out: list[tuple] = []
        arrivals = [(int(vid), nv)
                    for pdf in pdfs
                    for vid, nv in zip(pdf["vec_id"], pdf["nv"])]
        if ordered:
            arrivals.sort(key=lambda t: t[0])
        for vid, nv in arrivals:
            if nv is None:
                out.append((vid, True, None))
                continue
            arr = np.asarray(list(nv), dtype=float)
            # score against the batch-start members with ONE mat-vec
            # plus the few intra-batch arrivals individually — no
            # per-arrival matrix rebuild (vstack per arrival copied
            # the whole member matrix, quadratic per batch)
            best, bid = None, None
            if len(base_mat):
                sims = base_mat @ arr
                j = int(np.argmax(sims))
                best, bid = float(sims[j]), ids[j]
            for nid, nr in zip(new_ids, new_rows):
                s = float(nr @ arr)
                if best is None or s > best:
                    best, bid = s, nid
            matched = (bid if best is not None
                       and round(best, 6) >= tau else None)
            full = len(ids) + len(new_ids) >= max_cell
            if full and ordered:
                # batch semantic_dedup's sorted-prefix truncation drops
                # beyond-cap vectors from the OUTPUT too — emitting a
                # verdict here would break the exact-replay contract on
                # overflowing cells.  (Default mode keeps the live
                # verdict: a streaming consumer still wants an answer.)
                continue
            out.append((vid, matched is None, matched))
            if not full:
                new_ids.append(vid)
                new_rows.append(arr)
        if out:
            yield pd.DataFrame({
                "vec_id": [r[0] for r in out],
                "cell": int(key[0]),
                "keep": [r[1] for r in out],
                "matched_id": pd.array([r[2] for r in out],
                                       dtype="Int64")})
        # plain Python floats: numpy scalars inside state tuples break
        # the pickle bridge back to the JVM state store
        state.update((ids + new_ids,
                      stored + [[float(x) for x in r] for r in new_rows]))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)

    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if state_ttl_ms is not None else GroupStateTimeout.NoTimeout)
    return (base.groupBy("cell")
            .applyInPandasWithState(fn, SEM_OUT, SEM_STATE,
                                    "append", timeout))


HLL_OUT = "grp STRING, reg INT, mrho INT"
HLL_STATE = "mrho INT"


def stream_hll_registers(rows: DataFrame, value_col: str,
                         group_col: str, b: int = 12) -> DataFrame:
    """Streaming HyperLogLog: maintain the (group, reg) -> max-rank
    register table statefully over an unbounded value stream, emitting a
    row whenever a register RISES (update semantics — late/duplicate
    values can only re-observe, never lower, a register).

    Because HLL registers merge by max — commutative, associative,
    idempotent — the final streamed register table is IDENTICAL to the
    batch sketch over the same rows regardless of micro-batch
    arrival order or restarts, and therefore so is the estimate
    (``hll_estimate``): the replay entry checks that bit-for-bit
    against the batch oracle.  State is one INT per non-zero register,
    bounded at groups * 2^b keys — the streaming distinct counter whose
    state does NOT grow with the number of distinct values, unlike
    ``stream_dedup_exact``'s per-key state."""
    from carbonapi_spark.datapipe.sketch import hll_reg_rho

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        best = state.get[0] if state.exists else None
        hi = best
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf["__rho"].max())
                hi = m if hi is None else max(hi, m)
        if hi is not None and (best is None or hi > best):
            state.update((hi,))
            yield pd.DataFrame({"grp": [key[0]], "reg": [key[1]],
                                "mrho": [hi]})

    obs = (hll_reg_rho(rows, value_col, (group_col,), b)
           .select(F.col(group_col).cast("string").alias("grp"),
                   "reg", "__rho"))
    return (obs.groupBy("grp", "reg")
            .applyInPandasWithState(fn, HLL_OUT, HLL_STATE,
                                    "update", GroupStateTimeout.NoTimeout))


ATTR_OUT = "user_id LONG, channel STRING"
ATTR_STATE = "ts LONG, ty STRING"


def stream_attribution(events: DataFrame, conversion_type: str,
                       touch_types: list[str], model: str = "last",
                       lookback_s: int | None = None) -> DataFrame:
    """Streaming single-touch attribution: the stateful twin of
    ``datapipe.events.attribution``.  Per-user state is ONE (ts, type)
    pair — the most recent (``last``) or earliest (``first``) touch —
    carried across micro-batches; each conversion event emits
    (user_id, channel) the moment it arrives, credited to the carried
    touch (or '__none__' outside ``lookback_s``).

    Within a micro-batch the kernel sorts the user's events by
    (sec, event_id) — the batch operator's exact window order — so the
    result is arrival-order-independent within a batch, and an
    availableNow replay of a complete table (one batch) equals the
    batch operator exactly.  The group's Arrow chunks are concatenated
    BEFORE the sort (a >maxRecordsPerBatch user would otherwise be
    sorted per chunk, breaking that equality — the
    ``stream_semantic_dedup`` gather rule).  Across batches the usual
    streaming caveat applies: a touch that ARRIVES after its
    conversion's batch cannot retro-credit (conversions emit eagerly;
    that is the point of a streaming attributor).

    Input: streaming (user_id LONG, event_type STRING, event_id LONG,
    sec LONG).  Output: one row per conversion."""
    if model not in ("last", "first"):
        raise ValueError("model must be 'last' or 'first'")
    touch = frozenset(touch_types)

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        ts0, ty0 = state.get if state.exists else (None, None)
        chunks = [p for p in pdfs if len(p)]
        for pdf in ([pd.concat(chunks, ignore_index=True)]
                    if chunks else []):
            # fully vectorized (no per-row Python): forward-fill the
            # running touch index over the (sec, event_id)-sorted batch;
            # a virtual row -1 carries the cross-batch state
            pdf = pdf.sort_values(["sec", "event_id"])
            ety = pdf["event_type"].to_numpy()
            sec = pdf["sec"].to_numpy().astype("int64")
            n = len(pdf)
            pos = np.arange(n)
            tm = np.isin(ety, list(touch))
            if model == "last":
                ff = np.maximum.accumulate(np.where(tm, pos, -1))
            else:
                ff = np.minimum.accumulate(np.where(tm, pos, n))
            cm = ety == conversion_type
            if cm.any():
                idx = ff[cm]
                has_batch = (idx >= 0) & (idx < n)
                # model='first': a carried touch predates every in-batch
                # one; model='last': an in-batch touch wins over carried
                use_batch = has_batch if model == "last" else \
                    (has_batch & (ts0 is None))
                safe = np.where(has_batch, idx, 0)
                c_ts = np.where(use_batch, sec[safe],
                                ts0 if ts0 is not None else 0)
                c_ty = np.where(use_batch, ety[safe],
                                ty0 if ty0 is not None else "")
                have = use_batch | (ts0 is not None)
                if lookback_s is not None:
                    have &= (sec[cm] - c_ts) <= lookback_s
                chan = np.where(have, c_ty, "__none__")
                yield pd.DataFrame({"user_id": [key[0]] * int(cm.sum()),
                                    "channel": chan})
            if tm.any():
                if model == "last":
                    j = int(np.max(pos[tm]))
                    ts0, ty0 = int(sec[j]), str(ety[j])
                elif ts0 is None:
                    j = int(np.min(pos[tm]))
                    ts0, ty0 = int(sec[j]), str(ety[j])
        if ts0 is not None:
            state.update((int(ts0), str(ty0)))

    return (events.groupBy("user_id")
            .applyInPandasWithState(fn, ATTR_OUT, ATTR_STATE,
                                    "append", GroupStateTimeout.NoTimeout))


FUNNEL_OUT = "user_id LONG, t_start LONG, t_complete LONG"
FUNNEL_STATE = "r INT, anchor LONG, last LONG"


def stream_funnel(events: DataFrame, steps: list[str],
                  within_s: int | None = None,
                  user_col: str = "user_id",
                  type_col: str = "event_type",
                  ts_col: str = "sec") -> DataFrame:
    """Real-time ordered funnel: the stateful twin of
    ``datapipe.events.funnel``.  Per-user state is the greedy chain's
    three scalars (steps reached, anchor = first step-1 ts, last
    qualifying ts); a user emits ONE (user_id, t_start, t_complete) row
    the moment the final step lands — the live conversion stream.

    The kernel advances the chain with K vectorized min-passes per
    batch (t_i = min ts of step-i events > t_{i-1}, journey bounded to
    anchor + ``within_s``) over (ts, type)-sorted events — the batch
    fold's exact order, with the group's Arrow chunks concatenated
    before the sort (the ``stream_semantic_dedup`` gather rule) — so an
    availableNow replay of a complete table
    equals the batch greedy chain exactly.  Across batches the usual
    caveat: a LATE event older than an already-advanced step cannot
    rewind the chain (the chain only ever advances; that is the point
    of a live funnel).

    Events are pre-filtered to the K step types before the state store
    sees them, so keyed state exists only for users with funnel
    activity."""
    if not steps:
        raise ValueError("stream_funnel needs at least one step")
    k = len(steps)

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        r, anchor, last = state.get if state.exists else (0, None, None)
        chunks = [p for p in pdfs if len(p)]
        for pdf in ([pd.concat(chunks, ignore_index=True)]
                    if chunks and r < k else []):
            pdf = pdf.sort_values([ts_col, type_col])
            sec = pdf[ts_col].to_numpy().astype("int64")
            ety = pdf[type_col].to_numpy()
            while r < k:
                m = ety == steps[r]
                if r > 0:
                    m &= sec > last
                    if within_s is not None:
                        m &= sec <= anchor + within_s
                if not m.any():
                    break
                t = int(sec[m].min())
                if r == 0:
                    anchor = t
                last = t
                r += 1
            if r >= k:
                yield pd.DataFrame({"user_id": [key[0]],
                                    "t_start": [anchor],
                                    "t_complete": [last]})
        if r > 0:
            state.update((int(r), int(anchor), int(last)))

    filtered = events.where(F.col(type_col).isin(*set(steps)))
    return (filtered.groupBy(user_col)
            .applyInPandasWithState(fn, FUNNEL_OUT, FUNNEL_STATE,
                                    "append", GroupStateTimeout.NoTimeout))


QUOTA_OUT = "source STRING, doc_id LONG, n_tokens LONG, cum_tokens LONG"
QUOTA_STATE = "seen LONG"


def stream_source_quota(docs: DataFrame, quota_tokens: int,
                        group_col: str = "source",
                        id_col: str = "doc_id",
                        tokens_col: str = "n_tokens") -> DataFrame:
    """Per-source streaming token-quota admission: each source admits
    its arrival-order PREFIX of documents while the source's running
    stream total stays within ``quota_tokens``; once the stream passes
    the quota the faucet stays closed (the crawl-politeness /
    per-domain budget gate, enforced at ingest instead of by a
    post-hoc batch cap).

    State per source is ONE int64 — the tokens seen so far — so total
    state is sources x 8 bytes at any stream length.  The running
    total counts every arriving document (admit iff the post-arrival
    total still fits), which keeps the admitted set a pure PREFIX of
    the arrival order: the cumulative total is monotone, so the
    whole-history replay is a window cum-sum filter — no sequential
    skip-scan semantics to diverge on.  Within a micro-batch arrival
    order is pinned to ascending ``id_col`` (deterministic replay;
    kernels see Arrow chunks per key, gathered before sorting).
    Emits admitted rows as (source, doc_id, n_tokens, cum_tokens)."""

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        seen = state.get[0] if state.exists else 0
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values(id_col, ignore_index=True)
            cum = seen + pdf[tokens_col].to_numpy(dtype="int64").cumsum()
            keep = cum <= quota_tokens
            out = pd.DataFrame({
                "source": pdf[group_col][keep],
                "doc_id": pdf[id_col][keep],
                "n_tokens": pdf[tokens_col][keep],
                "cum_tokens": cum[keep]})
            seen = int(cum[-1]) if len(cum) else seen
            if len(out):
                yield out
        state.update((seen,))

    return (docs.groupBy(group_col)
            .applyInPandasWithState(fn, QUOTA_OUT, QUOTA_STATE,
                                    "append", GroupStateTimeout.NoTimeout))


CMS_OUT = "depth INT, bucket INT, cnt LONG"
CMS_STATE = "cnt LONG"


def stream_cms_counters(docs: DataFrame, text_col: str = "text",
                        w: int = 2048, d: int = 4,
                        ngram: int = 1) -> DataFrame:
    """Streaming count-min sketch maintenance: the stateful twin of
    ``datapipe.sketch.cms_counters``.  A stateless projection emits the
    d (depth, bucket) pairs per token (identical salted-xxhash64
    buckets as the batch sketch), then per-(depth, bucket) keyed state
    accumulates one int64, emitting the running counter whenever it
    rises (update semantics).

    Counter addition is commutative and associative, so the FINAL
    streamed counter table is bit-for-bit the batch ``cms_counters``
    over the same rows regardless of micro-batch arrival order or
    restarts — the replay entry checks exactly that.  State is bounded
    at d*w keys (one long each) no matter how much text streams
    through: the live heavy-hitter/frequency sketch whose memory never
    grows, feeding the same ``min-over-depths`` estimate as the batch
    two-pass recipe."""
    from carbonapi_spark.datapipe.sketch import _bucket, _token_stream

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        add = 0
        for pdf in pdfs:
            add += len(pdf)
        if add:
            cur = (state.get[0] if state.exists else 0) + add
            state.update((cur,))
            yield pd.DataFrame({"depth": [key[0]], "bucket": [key[1]],
                                "cnt": [cur]})

    tok = _token_stream(docs, text_col, ngram)
    obs = tok.select(F.posexplode(F.array(
        *[_bucket(F.col("term"), i, w) for i in range(d)]))
        .alias("depth", "bucket"))
    return (obs.groupBy("depth", "bucket")
            .applyInPandasWithState(fn, CMS_OUT, CMS_STATE,
                                    "update", GroupStateTimeout.NoTimeout))


ANOM_OUT = "key STRING, oid LONG, x_micro LONG, dev_micro LONG"
ANOM_STATE = "e LONG, m LONG, n LONG"


def stream_ewma_anomaly(rows: DataFrame, key_col: str = "key",
                        order_col: str = "oid",
                        val_col: str = "x_micro",
                        alpha_den: int = 8, k: int = 4,
                        warmup: int = 50) -> DataFrame:
    """Streaming anomaly detection: per-key EWMA level + EWMA absolute
    deviation in INTEGER FIXED-POINT, flagging points whose deviation
    from the current level exceeds ``k`` x the deviation estimate —
    the self-tuning threshold monitor (a robust streaming cousin of
    holtWintersAberration; the reference's aberration functions are
    batch-only).

    State per key is three int64s: level ``e``, mean-abs-deviation
    ``m``, count ``n``.  Per point IN ORDER: flag if n >= warmup and
    m > 0 and |x - e| > k*m, THEN e += (x-e) div alpha_den,
    m += (|x-e| - m) div alpha_den (deviation measured against the
    pre-update level).  All arithmetic is truncating int64, so an
    ordered batch replay (SQL struct fold) reproduces the flag set
    bit-for-bit.  The recurrence is inherently sequential per key —
    the per-row loop below is the operator's true data dependency, not
    an implementation shortcut; keys stream in parallel.

    Feed discipline: within a micro-batch the kernel sorts by
    ``order_col``; ACROSS batches the caller must feed in key-time
    order (the stream_join/sessionize replay contract) or flags become
    arrival-order-dependent."""

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        # self-contained closure: referencing the module-level helper
        # would make cloudpickle serialize it BY MODULE REFERENCE and
        # the worker (which need not have the repo on sys.path) would
        # die with ModuleNotFoundError
        def trunc_div(a: int, b: int) -> int:
            q = abs(a) // abs(b)
            return q if (a >= 0) == (b >= 0) else -q

        if state.exists:
            e, m, n = state.get
        else:
            e, m, n = 0, 0, 0
        # one global sort over the whole micro-batch: the iterator can
        # deliver several Arrow chunks per key (one per upstream
        # partition) and per-chunk sorting would interleave the
        # recurrence out of time order
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(order_col)
            oids, xs, devs = [], [], []
            for oid, x in zip(pdf[order_col].astype("int64"),
                              pdf[val_col].astype("int64")):
                x = int(x)
                if n == 0:
                    e, m, n = x, 0, 1
                    continue
                dev = abs(x - e)
                if n >= warmup and m > 0 and dev > k * m:
                    oids.append(int(oid))
                    xs.append(x)
                    devs.append(dev)
                e += trunc_div(x - e, alpha_den)
                m += trunc_div(dev - m, alpha_den)
                n += 1
            if oids:
                yield pd.DataFrame({"key": key[0], "oid": oids,
                                    "x_micro": xs, "dev_micro": devs})
        state.update((e, m, n))

    return (rows.groupBy(key_col)
            .applyInPandasWithState(fn, ANOM_OUT, ANOM_STATE, "append",
                                    GroupStateTimeout.NoTimeout))


CUSUM_OUT = "key STRING, oid LONG, x_micro LONG, sp LONG, sn LONG"
CUSUM_STATE = "sp LONG, sn LONG, mu LONG, n LONG"


def stream_cusum(rows: DataFrame, key_col: str = "key",
                 order_col: str = "oid", val_col: str = "x_micro",
                 mu_micro: int | None = None, slack_den: int = 20,
                 h_mult: int = 8, warmup: int = 50) -> DataFrame:
    """Online tabular CUSUM drift detector (Page 1954): per key, the
    one-sided cumulative sums
    s+ <- max(0, s+ + (x - mu - kappa)) and
    s- <- max(0, s- + (mu - x - kappa)) flag a PERSISTENT level shift
    the moment either exceeds h — the classic small-shift complement to
    :func:`stream_ewma_anomaly` (which fires on single spikes and
    adapts to drifts instead of flagging them).

    All integer fixed-point: mu is either the caller's reference level
    or learned as the exact integer mean of the first ``warmup`` points
    (sum div n — the deterministic estimator); kappa = mu div
    ``slack_den`` (the allowed slack) and h = kappa * ``h_mult``.  The
    recurrence is max/add on int64, so an ordered batch replay (the
    string-accumulator struct fold, same recipe as the anomaly oracle)
    reproduces the flag set bit-for-bit.  On a flag both sums reset
    (restart detection — standard practice).  State is four int64s per
    key; the per-key loop is the recurrence's true data dependency,
    keys stream in parallel."""

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            sp, sn, mu, n = state.get
        else:
            sp, sn, mu, n = 0, 0, 0, 0
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(order_col)
            oids, xs, sps, sns = [], [], [], []
            for oid, x in zip(pdf[order_col].astype("int64"),
                              pdf[val_col].astype("int64")):
                x = int(x)
                if n < warmup and mu_micro is None:
                    # exact running integer mean over the warmup prefix:
                    # carry the SUM in mu until the boundary, then fix
                    mu = mu + x
                    n += 1
                    if n == warmup:
                        q = abs(mu) // warmup
                        mu = q if mu >= 0 else -q
                    continue
                if mu_micro is not None and n < warmup:
                    mu = mu_micro
                    n = warmup
                kappa = abs(mu) // slack_den
                h = kappa * h_mult
                sp = max(0, sp + (x - mu - kappa))
                sn = max(0, sn + (mu - x - kappa))
                n += 1
                if h > 0 and (sp > h or sn > h):
                    oids.append(int(oid))
                    xs.append(x)
                    sps.append(sp)
                    sns.append(sn)
                    sp, sn = 0, 0
            if oids:
                yield pd.DataFrame({"key": key[0], "oid": oids,
                                    "x_micro": xs, "sp": sps, "sn": sns})
        state.update((sp, sn, mu, n))

    return (rows.groupBy(key_col)
            .applyInPandasWithState(fn, CUSUM_OUT, CUSUM_STATE, "append",
                                    GroupStateTimeout.NoTimeout))


HDR_OUT = "grp STRING, bucket_lo LONG, cnt LONG"
HDR_STATE = "cnt LONG"


def stream_hdr_buckets(rows: DataFrame, value_col: str,
                       group_col: str, precision_bits: int = 7,
                       scale_pow2: int = 20) -> DataFrame:
    """Streaming HDR-histogram quantile sketch: maintain the
    (group, bucket_lo) -> count table statefully over an unbounded
    value stream, emitting the running count whenever a bucket grows
    (update semantics).  The stateful twin of
    ``datapipe.sketch.hdr_buckets``.

    Bucket assignment is the batch operator's exact integer math
    (power-of-two fixed-point, bit_length via length(bin(v)), shifts)
    computed JVM-side BEFORE the stateful exchange, so the Python
    kernel only adds row counts.  Counts merge by ADDITION —
    commutative and associative — so with exactly-once micro-batch
    delivery the final streamed bucket table is IDENTICAL to the batch
    sketch over the same rows regardless of arrival order, batch
    split, or restarts (checkpointed state), and so are the quantiles
    read from it: the replay entry checks that bit-for-bit against the
    batch oracle.  State is ONE int64 per non-empty bucket, bounded by
    the VALUE RANGE (~7.4k buckets/group at p=7) — never by row
    count."""

    def fn(key, pdfs: Iterator[pd.DataFrame],
           state: GroupState) -> Iterator[pd.DataFrame]:
        add = sum(len(pdf) for pdf in pdfs)
        if add:
            cur = (state.get[0] if state.exists else 0) + add
            state.update((cur,))
            yield pd.DataFrame({"grp": [key[0]], "bucket_lo": [key[1]],
                                "cnt": [cur]})

    scale = float(1 << scale_pow2)
    # same int64 fixed-point range guard as the batch hdr_buckets
    bound = float(1 << (63 - scale_pow2))
    obs = (rows.where(F.col(value_col).isNotNull()
                      & (F.col(value_col) >= 0)
                      & (F.col(value_col) < F.lit(bound)))
           .select(F.col(group_col).cast("string").alias("grp"),
                   F.floor(F.col(value_col) * F.lit(scale))
                   .cast("long").alias("__v")))
    obs = obs.withColumn(
        "__sh", F.greatest(F.length(F.bin(F.col("__v")))
                           - F.lit(precision_bits), F.lit(0)))
    obs = obs.select(
        "grp", F.expr("shiftleft(shiftright(__v, __sh), __sh)")
        .alias("bucket_lo"))
    return (obs.groupBy("grp", "bucket_lo")
            .applyInPandasWithState(fn, HDR_OUT, HDR_STATE,
                                    "update", GroupStateTimeout.NoTimeout))
