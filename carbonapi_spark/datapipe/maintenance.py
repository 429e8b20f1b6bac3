"""The durable-index lifecycle — build, append, compact, delete and
the L0 side table — for the partitioned Parquet index layouts: ANN
``codes`` (by ``cell``), MinHash ``bands`` (by ``band``, ``bucket``)
and BM25 ``postings`` (by ``bucket``).  Each step has one helper here,
and all three indexes (:mod:`~carbonapi_spark.datapipe.similarity`,
:mod:`~carbonapi_spark.datapipe.dedup`,
:mod:`~carbonapi_spark.datapipe.retrieval`) call it; the per-index
functions add only their own keys and side tables.

- **Build**: :func:`build_index` runs the sub-table writes concurrently
  and removes every sub-table if one fails.  The partitioned table is
  written by :func:`write_partitioned` (one file per partition combo),
  the model-sized metadata tables by
  :func:`carbonapi_spark.datapipe.write_small_table`.
- **Append**: :func:`assert_not_under_maintenance`, then
  :func:`append_delta` (into L0, or into the partitioned table).
- **Compact**: under :func:`maintenance_lock`,
  :func:`compact_with_l0` — the dedupe-and-defragment kernel
  :func:`compact_partitioned` with L0 folded in.
- **Delete**: :func:`ids_frame` coerces the id set; under
  :func:`maintenance_lock`, :func:`delete_from_l0` and
  :func:`delete_rows_partitioned` (the ANN index rewrites only the
  affected cells instead).  Unpartitioned side tables are replaced
  through :func:`swap_in`.
- **L0**: :func:`read_l0`, :func:`append_delta` with ``l0=True``,
  :func:`delete_from_l0` and :func:`compact_with_l0` (below).

The text index uses every step but L0: its postings append
partitioned, so giving it L0 is ``append_delta(l0=True)`` plus
:func:`read_l0` in the probe and :func:`compact_with_l0` in its
compaction.

All three durable indexes share the same operational exposure: their
``append_*`` twins run in retried batch jobs (and, for ANN, a
foreachBatch streaming sink), so an epoch replayed after a partial
append leaves EXACT duplicate rows behind, and every append adds one
file per touched partition — bounded per batch, cumulative over
thousands.  Duplicates are exact by construction in every case (the
quantizers / band parameters / tokenization are frozen at build time,
so a replayed row re-derives identically), which makes key-based
``dropDuplicates`` lossless.

The L0 protocol
---------------
A partitioned index table ``{path}/{name}`` (``codes`` for ANN,
``bands`` for MinHash) may carry an L0 side table ``{path}/{name}_l0``:
the same rows, partition columns included as ordinary columns, written
UNPARTITIONED.  It is the LSM-style answer to append fragmentation
(Krypton, VLDB 2023: keep appends cheap, push the work into
compaction).  A partitioned append writes one file into EVERY
partition its delta touches, and a small delta's keys spread across
nearly all of them (measured r14: a 500-doc band delta touched all 256
(band, bucket) combos; a 2 s-tick ANN stream fragmented all 256 cells
per batch).  An L0 append is ONE file, whatever the spread.  Probes
union :func:`read_l0` with the main table: the probe's partition
restriction becomes a pushed-down Parquet predicate on L0 instead of
partition pruning — the right trade for a table that is delta-sized by
contract.  Appends into L0 refuse under a maintenance marker exactly
like partitioned appends (the caller's check).
"""

from __future__ import annotations

import contextlib
import os
import threading

from pyspark.sql import functions as F

from carbonapi_spark.datapipe import combo_repartition, overlap_jobs
from carbonapi_spark.sqltext import local_df


def _hpath(spark, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


@contextlib.contextmanager
def maintenance_lock(spark, index_path: str, op: str):
    """Single-writer enforcement (VERDICT r13 #5): drop a
    ``{index_path}/_MAINTENANCE`` marker (op + pid) for the duration of
    a compact/delete, so a concurrent append FAILS LOUDLY instead of
    losing its rows silently to the rename swap.  The leading
    underscore keeps Spark's parquet reader from treating it as data
    (same convention as _SUCCESS).  ``fs.create(overwrite=False)`` is
    the mutual-exclusion primitive — a second maintenance op on the
    same artifact raises instead of interleaving.  A FAILED run —
    crash or ANY exception out of the locked block — leaves the
    marker behind by design: the artifact may be mid-swap, so the
    operator must inspect (codes.precompact etc.) and remove the
    marker by hand — an append proceeding blindly is the worse
    failure.  Only a successful exit removes the marker."""
    mp, fs = _hpath(spark, f"{index_path}/_MAINTENANCE")
    try:
        out = fs.create(mp, False)
    except Exception as e:
        if fs.exists(mp):
            raise IOError(
                f"{op}: {index_path} is already under maintenance "
                f"({index_path}/_MAINTENANCE exists — concurrent "
                f"maintenance, or a crashed run; inspect and remove "
                f"the marker to proceed)")
        # an unrelated create failure (bad path, permissions, fs down)
        # is NOT contention — report it as itself instead of telling
        # the operator to remove a marker that does not exist
        raise IOError(
            f"{op}: could not create the maintenance marker at "
            f"{index_path}/_MAINTENANCE: {e}") from e
    out.write(bytearray(
        f"op={op} pid={os.getpid()} path={index_path}\n".encode()))
    out.close()
    # no finally-cleanup: an exception out of the locked op must LEAVE
    # the marker (the artifact may be mid-swap — the documented
    # contract, which a finally would silently break for every
    # Python-level failure, reopening the lost-append window against a
    # possibly-inconsistent index)
    yield
    fs.delete(mp, False)


def assert_not_under_maintenance(spark, index_path: str,
                                 action: str) -> None:
    """Refuse ``action`` while a :func:`maintenance_lock` marker is
    present — called by every ``append_*`` twin (and each streaming
    foreachBatch epoch) before writing.  Check-then-write is advisory,
    not a true lock (HDFS/S3 offer no cheap one): it turns the silent
    lost-append into a loud error in every non-pathological
    interleaving, which is the contract the docstrings promise."""
    mp, fs = _hpath(spark, f"{index_path}/_MAINTENANCE")
    if fs.exists(mp):
        raise IOError(
            f"{action} refused: {index_path} is under maintenance "
            f"({index_path}/_MAINTENANCE present). Appends during a "
            f"compaction/deletion rename-swap lose data silently; "
            f"retry after the maintenance op finishes (or remove the "
            f"marker if it was left by a crash).")


def swap_in(spark, live: str, stage: str, parked: str, op: str) -> None:
    """The shared two-rename swap protocol (one implementation for the
    five places that used to hand-roll it): park ``live`` at
    ``parked``, move ``stage`` into place, delete the parked copy,
    refresh Spark's file-status cache for ``live``.  A failed second
    rename rolls the park back so the table stays readable; a crash
    BETWEEN the renames leaves ``live`` briefly absent with the old
    data intact at ``parked`` (rename it back to recover)."""
    live_p, fs = _hpath(spark, live)
    stage_p, _ = _hpath(spark, stage)
    parked_p, _ = _hpath(spark, parked)
    if not fs.rename(live_p, parked_p):
        raise IOError(f"{op}: could not park {live}")
    if not fs.rename(stage_p, live_p):
        fs.rename(parked_p, live_p)   # roll back: stay readable
        raise IOError(f"{op}: could not swap in {stage}")
    fs.delete(parked_p, True)
    # the renames bypass Spark's write path, so any cached file
    # listing for the table still names the old files
    spark.catalog.refreshByPath(live)


def _ensure_readable(spark, path: str, schema) -> None:
    """A ``partitionBy`` write of ZERO rows leaves a directory with no
    data files (just _SUCCESS), which ``spark.read.parquet`` rejects
    with UNABLE_TO_INFER_SCHEMA — so a deletion that removes every row
    would brick the table.  Drop one empty schema-bearing parquet file
    (partition columns become ordinary all-NULL-typed columns) so the
    emptied table stays readable.  Appending into an emptied table
    resumes the partitioned layout only after a rebuild — documented on
    the per-index delete wrappers."""
    p, fs = _hpath(spark, path)
    it = fs.listFiles(p, True)
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            return
    local_df(spark, [], schema).coalesce(1) \
        .write.mode("append").parquet(path)


def delete_rows_partitioned(spark, table_path: str, ids_df,
                            join_cols: list[str],
                            partition_cols: list[str]) -> dict:
    """Full-table filtered rewrite: drop every row matching ``ids_df``
    on ``join_cols`` (anti-join, broadcast — delete sets are small by
    nature), rewritten through the same staged-write + rename-swap as
    the full compaction mode (one file per partition afterward — a
    deletion pass doubles as a defragmentation pass).

    This is deliberately NOT selective: in a term- or band-partitioned
    layout a document's rows spread across most partitions, so there is
    no partition-pruned deletion to have — unlike the ANN index, where
    id -> cell is a function and :func:`carbonapi_spark.datapipe.
    similarity.delete_from_ann_index` rewrites only affected cells.
    Same single-writer caveat.  Returns {"rows_deleted",
    "rows_after"}."""
    df = read_index_table(spark, table_path)
    n_before = sum(r["__n"] for r in
                   _partition_stats(spark, table_path, df,
                                    partition_cols))
    keep = df.join(F.broadcast(ids_df), join_cols, "left_anti")
    tmp = f"{table_path}.deleting"
    write_partitioned(keep, tmp, partition_cols,
                      spark.sparkContext.defaultParallelism, "overwrite")
    _ensure_readable(spark, tmp, df.schema)
    swap_in(spark, table_path, tmp, f"{table_path}.predelete",
            "delete_rows_partitioned")
    n_after = sum(r["__n"] for r in
                  _partition_stats(spark, table_path,
                                   lambda: read_index_table(spark,
                                                            table_path),
                                   partition_cols, schema=df.schema))
    return {"rows_deleted": n_before - n_after, "rows_after": n_after}


def _per_partition_stats(df, partition_cols: list[str]):
    """ONE pass over the table: per-partition-combo (rows, files).
    Every count the kernel needs — rows_before, files_before, the
    fragmented combo set, partitions_rewritten — derives from this
    single aggregate (r14 §2.4: the old shape paid 3-5 separate
    full-table count jobs per compaction; at lake scale each one is a
    full scan).  The collect is bounded by the partition-combo count,
    which is bounded by the index layout (256 cells / band x bucket
    grids) — the same bound the broadcast-semi-join design already
    relies on."""
    return (df.select(*partition_cols, F.input_file_name().alias("__f"))
            .groupBy(*partition_cols)
            .agg(F.count(F.lit(1)).alias("__n"),
                 F.countDistinct("__f").alias("__nf"))
            .collect())


_PART_VALUE_PARSERS = {
    "tinyint": int, "smallint": int, "int": int, "bigint": int,
    "string": None,   # filled below (urllib unquote)
    "boolean": lambda v: v == "true",
}


def _footer_partition_stats(root: str, schema, partition_cols: list[str]):
    """Metadata-only `_per_partition_stats`: per-combo (rows, files)
    from a directory walk + parquet FOOTER row counts — zero data
    reads, zero Spark jobs (the manifest economy of Iceberg-style
    formats, guide §6; measured r14: 0.04 s for a 769-file layout vs
    1.1-1.3 s for the aggregate scan, and at lake scale the scan is a
    full pass over the index while footers stay proportional to the
    FILE count).  Returns None (caller falls back to the scan) when
    the layout does not match expectations: non-key=value directories,
    a Hive default (NULL) partition, an unparseable value type, or a
    non-empty data file at the wrong depth.  Zero-row files are
    skipped entirely — the aggregate pass never saw them either (no
    rows => no group), so the two paths report identical numbers."""
    import os as _os
    from urllib.parse import unquote

    import pyarrow.parquet as pq
    parsers = []
    for c in partition_cols:
        t = schema[c].dataType.simpleString()
        if t == "string":
            parsers.append(unquote)
        elif t in _PART_VALUE_PARSERS and _PART_VALUE_PARSERS[t]:
            parsers.append(_PART_VALUE_PARSERS[t])
        else:
            return None
    depth = len(partition_cols)
    stats: dict = {}
    for dirpath, _dirs, files in _os.walk(root):
        pfs = [f for f in files if f.endswith(".parquet")]
        if not pfs:
            continue
        rel = _os.path.relpath(dirpath, root)
        parts = [] if rel == "." else rel.split(_os.sep)
        combo = None
        if len(parts) == depth:
            vals = []
            for seg, col, parse in zip(parts, partition_cols, parsers):
                if "=" not in seg:
                    break
                k, v = seg.split("=", 1)
                if k != col or v == "__HIVE_DEFAULT_PARTITION__":
                    break
                try:
                    vals.append(parse(v))
                except ValueError:
                    break
            else:
                combo = tuple(vals)
        for f in pfs:
            try:
                n = pq.read_metadata(_os.path.join(dirpath, f)).num_rows
            except Exception:
                return None
            if n == 0:
                continue
            if combo is None:
                return None   # real data outside the layout: scan instead
            ent = stats.setdefault(combo, [0, 0])
            ent[0] += n
            ent[1] += 1
    return [dict(zip(partition_cols, combo)) | {"__n": n, "__nf": nf}
            for combo, (n, nf) in sorted(stats.items())]


def _local_root(path: str):
    """Local filesystem directory for ``path``, or None (remote)."""
    p = str(path)
    if p.startswith("file:"):
        p = p[5:]
    if "://" not in p and p.startswith("/"):
        import os as _os
        return p if _os.path.isdir(p) else None
    return None


# serializes read_index_table's set/restore of a session-wide conf
_DISCOVERY_CONF_LOCK = threading.Lock()


def read_index_table(spark, path: str):
    """``spark.read.parquet`` for a PARTITIONED index grid (the
    band/bucket and cell layouts).  Past
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (default
    32) leaf paths, Spark's eager partition discovery launches a
    DISTRIBUTED file-listing job — a fixed per-read cost that dwarfs
    the listing itself for a grid bounded by its combo count (≤1024
    directories by layout): measured r15, read+count of a 257-dir band
    grid is 0.99 s with the listing job vs 0.32 s listed on the
    driver.  On local paths the threshold is raised for the duration
    of the (eager) resolution so the driver lists directly; remote
    paths keep the default behavior — object-store listings are
    latency-bound and do benefit from the distributed path.  Scale:
    the threshold override is keyed to the bounded grid, not to this
    host — a 100 TB index still has ≤combo-count directories."""
    if _local_root(path) is None:
        return spark.read.parquet(path)
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    # the override is session-wide: two overlapping reads would otherwise
    # restore each other's value, leaving 8192 behind for good
    with _DISCOVERY_CONF_LOCK:
        old = spark.conf.get(key)
        spark.conf.set(key, "8192")
        try:
            return spark.read.parquet(path)
        finally:
            spark.conf.set(key, old)


def _partition_stats(spark, table_path: str, df,
                     partition_cols: list[str], schema=None):
    """Per-combo (rows, files) for a partitioned table: parquet-footer
    metadata on local paths, the one-pass aggregate scan otherwise.

    ``df`` may be a ZERO-ARG CALLABLE (with ``schema`` supplied): the
    footer path needs only the partition-column dtypes, so the
    DataFrame — whose construction pays an eager file listing of the
    whole partition grid (a distributed listing job past the
    parallel-discovery threshold; r15 measured 0.7-0.8 s per read on a
    257-dir band layout) — is built ONLY when the distributed fallback
    scan is actually needed.  Post-rewrite stats calls use this: the
    rewrite preserves the schema, so the caller passes the
    pre-rewrite schema and a lazy re-read."""
    if callable(df) and schema is None:
        raise TypeError("_partition_stats: a callable df needs schema=")
    root = _local_root(table_path)
    if root is not None:
        try:
            per = _footer_partition_stats(
                root, schema if schema is not None else df.schema,
                partition_cols)
            if per is not None:
                return per
        except Exception:
            pass
    return _per_partition_stats(df() if callable(df) else df,
                                partition_cols)


def table_row_count(spark, path: str, df=None) -> int:
    """Row count of a FLAT (unpartitioned) parquet table from footer
    metadata when local — zero Spark jobs — else ``count()``.  Exact
    either way (a parquet footer's num_rows is authoritative)."""
    root = _local_root(path)
    if root is not None:
        try:
            import os as _os

            import pyarrow.parquet as pq
            return sum(
                pq.read_metadata(_os.path.join(dp, f)).num_rows
                for dp, _d, fs in _os.walk(root)
                for f in fs if f.endswith(".parquet"))
        except Exception:
            pass
    return (df if df is not None
            else spark.read.parquet(path)).count()


def _combo_df(spark, combos, df, partition_cols: list[str]):
    """Driver-known partition combos -> broadcastable DataFrame with
    ``df``'s partition-column types (an Arrow local relation — NOT a
    driver-built ``isin`` over struct literals: the r12 probe-path
    measurements showed SQL-literal predicates carry a real per-query
    fixed cost, while a broadcast semi-join against a local relation is
    identical semantics with no literal codegen at any combo count)."""
    ddl = ", ".join(
        f"`{c}` {df.schema[c].dataType.simpleString()}"
        for c in partition_cols)
    return local_df(spark, combos, ddl)


def overwrite_partition_dirs(spark, table_path: str, stage: str,
                             partition_cols: list[str]) -> list[str]:
    """Commit a staged partitioned write by MOVING each staged
    partition directory into place (delete live dir + rename staged
    dir), replacing the old second Spark job that re-read the stage and
    re-shuffled it through dynamic partition overwrite — the staged
    rows were being written TWICE (r14 §2.4).  Renames are per-combo
    filesystem metadata ops, bounded by the index layout, and the crash
    semantics are the same partition-level old-or-new that dynamic
    overwrite's commit already had (it too deletes matching partition
    dirs before renaming staged files in); a crash mid-commit leaves
    the remaining staged combos under ``stage`` for inspection, and a
    retried idempotent compaction finishes the job.  Returns the
    relative partition paths moved."""
    sp, fs = _hpath(spark, stage)
    depth = len(partition_cols)

    def _leaves(p, d):
        if d == 0:
            yield p
            return
        for st in fs.listStatus(p):
            if st.isDirectory():
                yield from _leaves(st.getPath(), d - 1)

    moved = []
    for leaf in _leaves(sp, depth):
        parts = []
        q = leaf
        for _ in range(depth):
            parts.append(q.getName())
            q = q.getParent()
        rel = "/".join(reversed(parts))
        live_p, _ = _hpath(spark, f"{table_path}/{rel}")
        parent = live_p.getParent()
        if not fs.exists(parent):
            fs.mkdirs(parent)
        if fs.exists(live_p):
            fs.delete(live_p, True)
        if not fs.rename(leaf, live_p):
            raise IOError(f"overwrite_partition_dirs: could not move "
                          f"{stage}/{rel} into {table_path}")
        moved.append(rel)
    fs.delete(sp, True)
    # the renames bypass Spark's write path — cached listings are stale
    spark.catalog.refreshByPath(table_path)
    return moved


def build_index(spark, path: str, subs: list[str], *writes) -> None:
    """Failure-atomic index build: run the sub-table ``writes`` (thunks)
    concurrently through ``overlap_jobs`` — the small metadata writes
    ride the big data write's scheduling tail — and, if ANY of them
    fails, remove every sub-table directory in ``subs`` before
    re-raising.  A failure of one write can leave the others already
    committed — a half-built index whose stats table reads as valid;
    deleting whatever landed makes a failed build unambiguously absent
    (ADVICE r14).  The cleanup is best-effort: it runs on the failure
    path, and a cleanup error must not mask the build error."""
    try:
        overlap_jobs(*writes)
    except BaseException:
        for s in subs:
            try:
                p, fs = _hpath(spark, f"{path}/{s}")
                fs.delete(p, True)
            except Exception:
                pass
        raise


def write_partitioned(df, table_path: str, partition_cols: list[str],
                      n_combos: int, mode: str) -> None:
    """The one-file-per-combo ``partitionBy`` write every index layout
    uses (build, partitioned append, deletion rewrite):
    :func:`combo_repartition` then ``partitionBy(partition_cols)``."""
    (combo_repartition(df, partition_cols, n_combos)
     .write.mode(mode).partitionBy(*partition_cols).parquet(table_path))


def ids_frame(spark, ids, id_col: str, table, name: str | None = None):
    """A delete request's id set as a one-column DataFrame named
    ``name`` (default ``id_col``).  A list, tuple or set of ids becomes
    a sorted local relation typed like column ``name`` of ``table()``
    (a zero-arg callable, called only in this case); a DataFrame has
    its ``id_col`` selected."""
    name = name or id_col
    if isinstance(ids, (list, tuple, set)):
        dt = table().schema[name].dataType.simpleString()
        return local_df(spark, [(i,) for i in sorted(ids)],
                        f"`{name}` {dt}")
    return ids.select(F.col(id_col).alias(name))


def recover_staged_commit(spark, table_path: str, stage: str,
                          partition_cols: list[str]) -> bool:
    """Finish (or discard) a leftover ``stage`` directory from a prior
    crashed run BEFORE a new rewrite is planned (ADVICE r14): the
    per-combo move loop in :func:`overwrite_partition_dirs` deletes the
    live partition dir before renaming the staged one in, so a crash in
    that window leaves a combo's rows ONLY under the stage — and a
    naive retry would rebuild the stage from the (now incomplete) live
    table with ``mode("overwrite")``, silently erasing the orphaned
    rows forever.

    A COMMITTED stage (``_SUCCESS`` present — Spark's commit protocol
    wrote it before any move started) holds complete rewritten
    partition dirs, so moving the remainder into place completes the
    interrupted commit exactly as the crashed run would have.  An
    UNCOMMITTED stage (no ``_SUCCESS``) is a partial write over an
    intact live table: discard it.  Returns True when a leftover stage
    was found (either way)."""
    sp, fs = _hpath(spark, stage)
    if not fs.exists(sp):
        return False
    okp, _ = _hpath(spark, f"{stage}/_SUCCESS")
    if fs.exists(okp):
        overwrite_partition_dirs(spark, table_path, stage,
                                 partition_cols)
    else:
        fs.delete(sp, True)
    return True


def compact_partitioned(spark, table_path: str, key_cols: list[str],
                        partition_cols: list[str],
                        fragmented_only: bool = False,
                        extra_df=None, extra_rows: int | None = None) -> dict:
    """Dedupe-and-defragment one partitioned Parquet table.

    Full mode (default): dropDuplicates(key_cols), repartition by the
    partition columns (one shuffle partition per combo -> exactly one
    file per partition directory), write to ``<table>.compacting``,
    swap in with two renames (old data parked at ``<table>.precompact``
    until the new directory is in place).  No state ever mixes old and
    new files; a crash between the renames leaves the table briefly
    absent with the old data intact at the parked path.

    ``fragmented_only=True`` is the lake-scale mode: only partition
    combos holding MORE THAN ONE file are rewritten (appends always
    create new files, so a one-file partition holds no append
    duplicates), via a staged write + dynamic partition overwrite —
    untouched partitions keep their files byte-for-byte and cost
    scales with the fragmented fraction.  A crash mid-commit leaves
    each partition individually old-or-new; dedupe is idempotent, so a
    retry finishes the job.

    Cost model: the rewrite is ONE shuffle of the rewritten rows
    (r14).  The partition-column repartition runs FIRST and the
    dedupe key is widened with the partition columns, so the dedupe
    aggregate's required clustering (``ClusteredDistribution`` over
    the widened key) is satisfied by the repartition's
    ``HashPartitioning`` on its subset — Spark plans the
    ``dropDuplicates`` with NO second exchange (declarative, pinned
    by ``tests/test_plan_shape.py``).  Widening the key is lossless
    because every caller's partition columns are pure functions of
    its key columns (band/text: ``bucket = pmod(xxhash64(key|term),
    n)``; ANN: id -> cell under the frozen quantizer, the same
    invariant ``delete_from_ann_index`` relies on), so the dedupe
    groups are identical.  Full mode therefore moves the table once;
    ``fragmented_only`` moves only the fragmented fraction once,
    which is why it is the lake-scale default choice.

    NEITHER mode is safe concurrently with appends or probes
    (single-writer maintenance — the per-index wrappers hold a
    :func:`maintenance_lock`, and every append twin refuses while its
    marker is present).  Returns row/file counts
    before/after + ``partitions_rewritten``.

    ``extra_df`` folds a side table into the partitioned layout in the
    same pass (the L0 fold of :func:`compact_with_l0`: ``partition_cols``
    are ordinary columns there).  In ``fragmented_only`` mode every
    partition combo PRESENT in ``extra_df`` counts as fragmented — its
    rows have to be merged into the combo's directory, so that combo
    must be rewritten whether or not the main table fragmented it.
    ``extra_rows`` lets a caller that already counted ``extra_df``
    skip the recount.

    Job accounting (r14): every count this function reports derives
    from ONE per-partition aggregate pass before the rewrite and one
    after (:func:`_per_partition_stats`) — the old shape paid 3-5
    separate full-table jobs (count, file-distinct, frag-groupBy,
    post-count, post-distinct x2), each a full scan at lake scale."""
    # a crashed prior run may have left a committed-but-partly-moved
    # stage; fold it back into the table BEFORE reading anything (both
    # modes share the stage path, so both must recover — a full-mode
    # ``mode("overwrite")`` stage write would erase the orphans too)
    recover_staged_commit(spark, table_path, f"{table_path}.compacting",
                          partition_cols)
    df = read_index_table(spark, table_path)
    if extra_df is not None:
        extra_df = extra_df.select(*df.columns)
    # partition columns are functions of the key columns in every
    # caller's layout, so widening the dedupe key with them keeps the
    # groups identical while letting the dedupe reuse the partition
    # repartition's exchange (see the cost-model note above)
    dedup_keys = list(key_cols) + [c for c in partition_cols
                                   if c not in key_cols]
    per = _partition_stats(spark, table_path, df, partition_cols)
    n_main = sum(r["__n"] for r in per)
    f_before = sum(r["__nf"] for r in per)
    if extra_df is None:
        n_extra = 0
    else:
        n_extra = extra_rows if extra_rows is not None \
            else extra_df.count()
    n_before = n_main + n_extra

    if fragmented_only:
        combos = {tuple(r[c] for c in partition_cols)
                  for r in per if r["__nf"] > 1}
        if extra_df is not None:
            combos |= {tuple(r) for r in
                       extra_df.select(*partition_cols)
                       .distinct().collect()}
        n_frag = len(combos)
        if n_frag == 0:
            return {"rows_before": n_before, "rows_after": n_before,
                    "files_before": f_before, "files_after": f_before,
                    "partitions_rewritten": 0}
        # Spark refuses to overwrite a path it is reading, so the
        # fragmented partitions stage through .compacting first; the
        # staged partition dirs are then MOVED into place (no second
        # Spark write of the staged rows).
        stage = f"{table_path}.compacting"
        frag_df = _combo_df(spark, sorted(combos), df, partition_cols)
        to_stage = df.join(F.broadcast(frag_df), partition_cols,
                           "left_semi")
        if extra_df is not None:
            to_stage = to_stage.unionByName(extra_df)
        (combo_repartition(to_stage, partition_cols, n_frag)
         .dropDuplicates(dedup_keys)
         .write.mode("overwrite")
         .partitionBy(*partition_cols).parquet(stage))
        overwrite_partition_dirs(spark, table_path, stage,
                                 partition_cols)
        rewritten = n_frag
    else:
        tmp = f"{table_path}.compacting"
        full = (df if extra_df is None else df.unionByName(extra_df))
        (combo_repartition(full, partition_cols, max(1, len(per)))
         .dropDuplicates(dedup_keys)
         .write.mode("overwrite")
         .partitionBy(*partition_cols).parquet(tmp))
        # compacting an EMPTIED table (post delete-everything) writes a
        # file-less tmp dir; swapping that in would re-brick the table
        # the deletion path's placeholder kept readable
        _ensure_readable(spark, tmp, df.schema)
        swap_in(spark, table_path, tmp, f"{table_path}.precompact",
                "compact_partitioned")
        rewritten = None   # filled from the post-swap stats below (the
        # pre-swap plans' file listings are stale after the renames)

    per_after = _partition_stats(spark, table_path,
                                 lambda: read_index_table(spark,
                                                          table_path),
                                 partition_cols, schema=df.schema)
    if rewritten is None:
        rewritten = len(per_after)
    return {"rows_before": n_before,
            "rows_after": sum(r["__n"] for r in per_after),
            "files_before": f_before,
            "files_after": sum(r["__nf"] for r in per_after),
            "partitions_rewritten": rewritten}


# ------------------------------------------------------------ L0 protocol
# (see the module docstring)

def read_l0(spark, path: str, name: str):
    """``{path}/{name}_l0`` as a DataFrame, or None when there is no L0
    — including the first-append window, where the directory exists
    but holds no committed parquet yet (only ``_temporary``), which
    must read as "no L0" rather than UNABLE_TO_INFER_SCHEMA."""
    from pyspark.errors import AnalysisException
    p, fs = _hpath(spark, f"{path}/{name}_l0")
    if not fs.exists(p):
        return None
    try:
        return spark.read.parquet(f"{path}/{name}_l0")
    except AnalysisException:
        return None


def append_delta(delta, path: str, name: str, partition_cols: list[str],
                 n_combos: int, l0: bool) -> None:
    """Append ``delta`` to index table ``name``: ONE file into L0 when
    ``l0`` (``repartition(1)``, not ``coalesce(1)``, which would
    serialize the delta's encode pipeline into the single write task),
    else one file per touched combo of the partitioned table."""
    if l0:
        delta.repartition(1).write.mode("append") \
            .parquet(f"{path}/{name}_l0")
    else:
        write_partitioned(delta, f"{path}/{name}", partition_cols,
                          n_combos, "append")


def delete_from_l0(spark, path: str, name: str, ids_df,
                   id_col: str) -> int:
    """Drop the rows matching ``ids_df`` on ``id_col`` from L0, if there
    is one, rewriting it whole through :func:`swap_in`; an L0 emptied
    entirely is removed, not left as a placeholder.  Returns the rows
    deleted."""
    l0 = read_l0(spark, path, name)
    if l0 is None:
        return 0
    n_hit = l0.join(F.broadcast(ids_df), id_col).count()
    if n_hit == 0:
        return 0
    live = f"{path}/{name}_l0"
    keep = l0.join(F.broadcast(ids_df), id_col, "left_anti")
    if keep.isEmpty():
        lp, fs = _hpath(spark, live)
        fs.delete(lp, True)
        spark.catalog.refreshByPath(live)
        return n_hit
    keep.coalesce(1).write.mode("overwrite").parquet(f"{live}.deleting")
    swap_in(spark, live, f"{live}.deleting", f"{live}.predelete",
            "delete_from_l0")
    return n_hit


def compact_with_l0(spark, path: str, name: str, key_cols: list[str],
                    partition_cols: list[str],
                    fragmented_only: bool) -> dict:
    """:func:`compact_partitioned` over ``{path}/{name}`` with L0 folded
    in, then L0 removed; adds ``l0_rows_folded`` when there was one.
    The caller holds the :func:`maintenance_lock`.  A crash between the
    fold commit and the removal leaves the folded rows in both places:
    exact duplicates that a probe-side dedupe hides and a retried
    compaction removes durably."""
    live = f"{path}/{name}_l0"
    l0 = read_l0(spark, path, name)
    n_l0 = table_row_count(spark, live, l0) if l0 is not None else 0
    stats = compact_partitioned(spark, f"{path}/{name}", key_cols,
                                partition_cols, fragmented_only,
                                extra_df=l0, extra_rows=n_l0)
    if l0 is not None:
        lp, fs = _hpath(spark, live)
        fs.delete(lp, True)
        spark.catalog.refreshByPath(live)
        stats["l0_rows_folded"] = n_l0
    return stats
