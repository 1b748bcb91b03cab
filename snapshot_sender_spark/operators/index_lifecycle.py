"""ONE implementation of the persisted-index epoch lifecycle (round-8
verdict #3): every continuously-ingesting index family — jaccard text
postings (+ sizes), substring/chunk distinct hashes, media per-band
signatures, and (for the shared overwrite-mode plumbing) the IVF embedding
partitions — follows the same three-phase contract:

  create      first epoch creates the table bucketed+sorted on its probe
              key and partitioned by ``epoch`` (after clearing a stale
              warehouse location the in-memory catalog can no longer see)
  append      later epochs land via DYNAMIC partition overwrite — a
              replayed epoch replaces its own partition, never
              double-appends (replay idempotence)
  compact     committed epochs fold into the reserved
              ``epoch = COMPACTED_EPOCH`` partition, deduped by key so a
              crash mid-fold is cured by re-running

Before round 8 the create/append half was repeated four times
(``append_dedup_index_epoch`` ×2 tables, ``append_hash_index_epoch``,
``append_sig_index_epoch``, plus the IVF path form) — a fix applied to
three of the four copies was the likeliest future drift bug. The public
per-family functions in operators/dedup.py and operators/similarity.py are
now thin wrappers over this module; their signatures, table layouts, and
plan shapes are unchanged (pinned by the existing index/service tests and
oracle queries).

Which epochs are committed is not recorded here: the services' replay
markers, and the input fingerprint each one carries, live in
streaming/epochs.py (``EpochLog``, ``fingerprint``).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

COMPACTED_EPOCH = -1  # reserved partition id for folded epochs (streamed
#                       epoch ids are >= 0, so it never collides and the
#                       services' exclude_epoch equality never prunes it)

__all__ = [
    "COMPACTED_EPOCH",
    "DYNAMIC_OVERWRITE",
    "dynamic_partition_overwrite",
    "table_mutation_lock",
    "drop_stale_table_location",
    "append_epoch_partition",
    "fold_epoch_partitions",
    "remove_ids_from_epoch_table",
    "remove_ids_from_partitioned_dir",
]


# The per-write DataFrameWriter option form (honored for PATH-based saves,
# e.g. the IVF parquet dirs — but NOT for insertInto on catalog tables,
# which only reads the session conf):
DYNAMIC_OVERWRITE = {"partitionOverwriteMode": "dynamic"}

# Refcounted scope state for the session-conf form: insertInto writes must
# flip spark.sql.sources.partitionOverwriteMode, and a naive set/restore
# races across threads — thread A's restore could land "static" while
# thread B's insertInto was still planning, silently turning B into a
# FULL-TABLE overwrite (observed as a flaky concurrent same-epoch append).
# The refcount keeps the conf "dynamic" until the LAST concurrent scope in
# that session exits.
_dpo_lock = threading.RLock()
_dpo_state: dict[int, list] = {}  # id(session) -> [depth, prev_value]


@contextmanager
def dynamic_partition_overwrite(spark):
    """Scope ``spark.sql.sources.partitionOverwriteMode=dynamic`` for an
    ``insertInto`` (the write-option form does not apply there) —
    THREAD-SAFE: nested/concurrent scopes on the same session refcount, so
    the previous value is restored only when the outermost scope exits.

    INVERTED HAZARD (the refcount's flip side): the session conf stays
    ``dynamic`` for the WHOLE refcounted scope, so an unrelated concurrent
    ``insertInto(overwrite=True)`` on the SAME session that expects STATIC
    full-table-overwrite semantics would silently become a dynamic
    partition overwrite while any of these scopes is open. No such caller
    exists in this repo (every overwrite-mode insertInto routes through
    this scope on purpose); a future static-overwrite caller on a shared
    session must either use its own SparkSession (``spark.newSession()``
    confs are independent) or avoid overlapping with these scopes."""
    key = id(spark)
    with _dpo_lock:
        st = _dpo_state.get(key)
        if st is None:
            prev = spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            )
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            _dpo_state[key] = st = [0, prev]
        st[0] += 1
    try:
        yield
    finally:
        with _dpo_lock:
            st = _dpo_state[key]
            st[0] -= 1
            if st[0] == 0:
                spark.conf.set(
                    "spark.sql.sources.partitionOverwriteMode", st[1]
                )
                del _dpo_state[key]


# Per-table mutation locks (round-9 verdict #2): READ-MODIFY-WRITE index
# mutations — takedown (scan affected partitions → rewrite without ids) and
# compaction (read source epochs → write folded target → drop sources) —
# are individually crash-convergent but NOT mutually atomic. Two concrete
# lost-update interleavings:
#   * takedown ∥ compaction on the same table: the takedown rewrites
#     epoch K without the id AFTER the fold already copied K's rows
#     (id included) into the compacted partition → the id SURVIVES in
#     epoch -1 until some later takedown re-runs;
#   * takedown ∥ takedown of DIFFERENT ids hitting the SAME partition:
#     both read the original files, each rewrites without only its own
#     ids → the last writer resurrects the other's removed rows.
# Plain epoch APPENDS need no lock: a new epoch's partition is disjoint
# from every partition a takedown or fold touches (takedown only rewrites
# partitions that already contain the ids; the fold only touches epochs
# listed as committed), and dynamic overwrite replaces only partitions
# present in the write — concurrency of append with either is proven in
# tests/test_takedown_concurrency.py rather than serialized away.
#
# SCOPE CONTRACT: the lock is per-PROCESS (a threading lock keyed by lowered
# table name). In this repo that is sufficient — each service owns its index
# table single-writer, and compaction/takedown run from that service's
# process (the streaming foreachBatch driver). Multi-process writers would
# need an external coordinator (a metastore lock / object-store lease);
# deliberately not built — same single-writer stance as the epoch markers.
_table_locks_guard = threading.Lock()
_table_locks: dict[str, threading.RLock] = {}


@contextmanager
def table_mutation_lock(table: str):
    """Serialize read-modify-write mutations (takedown, compaction fold) of
    one index table within this process. Reentrant per thread; see the
    lost-update interleavings documented above."""
    with _table_locks_guard:
        lock = _table_locks.setdefault(table.lower(), threading.RLock())
    with lock:
        yield


def drop_stale_table_location(spark, table: str) -> None:
    """Remove a managed table's warehouse directory when the CATALOG has no
    such table. With the default in-memory catalog, a table created by a
    previous process leaves its location on disk while the new process's
    catalog starts empty — `DROP TABLE IF EXISTS` is then a no-op and
    CREATE fails with LOCATION_ALREADY_EXISTS. A persistent metastore
    doesn't have this problem (the table survives and `tableExists` guards
    creation); this guard only fires for locations the current catalog
    cannot see, which are unreachable garbage by definition."""
    if spark.catalog.tableExists(table):
        return
    # resolve the FULL managed location: a db-qualified table lives under
    # <warehouse>/<db>.db/<name> (default db: <warehouse>/<name>) — building
    # the path from the bare name alone would miss qualified tables and
    # could delete an unrelated default-db table of the same short name
    parts = table.lower().split(".")
    name = parts[-1]
    db = parts[-2] if len(parts) > 1 else spark.catalog.currentDatabase().lower()
    rel = name if db == "default" else f"{db}.db/{name}"
    wh = spark.conf.get("spark.sql.warehouse.dir")
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(wh, rel)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        fs.delete(p, True)


def append_epoch_partition(
    spark,
    table: str,
    df: DataFrame,
    epoch: int,
    bucket_cols: list[str] | None = None,
    n_buckets: int = 8,
) -> None:
    """REPLAY-IDEMPOTENT per-epoch append shared by every table-backed
    index family. ``df``'s columns (WITHOUT epoch — stamped here, last, to
    match ``insertInto``'s by-position resolution) become the table schema;
    ``bucket_cols`` bucket+sort the table on its probe key so batch joins
    read corpus buckets with no Exchange and no sort (None = unbucketed,
    e.g. the jaccard sizes side table). First call creates the table
    (clearing any stale location); later calls dynamically overwrite ONLY
    this epoch's partition — a replayed epoch replaces itself."""
    out = df.select("*", F.lit(int(epoch)).alias("epoch"))
    if not spark.catalog.tableExists(table):
        drop_stale_table_location(spark, table)
        writer = out.write
        if bucket_cols:
            writer = writer.bucketBy(n_buckets, *bucket_cols).sortBy(*bucket_cols)
        writer.partitionBy("epoch").mode("overwrite").saveAsTable(table)
        return
    with dynamic_partition_overwrite(spark):
        out.write.insertInto(table, overwrite=True)


def fold_epoch_partitions(
    spark, tables_cols, epochs, target_epoch, write_tasks
) -> int:
    """Shared fold core of the per-family ``compact_*_index`` functions:
    move the listed epochs' rows of every (table, key_cols) pair into the
    target partition, dedup by key (crash-curative), drop the sources.
    Returns the row count folded in the FIRST table."""
    epochs = sorted({int(e) for e in epochs})
    if int(target_epoch) in epochs:
        raise ValueError("target_epoch cannot be in the epochs to fold")
    # fold only partitions that EXIST: committed_epochs markers outlive
    # their folded partitions, so a service cycle with nothing new must be
    # a no-op, not an O(corpus) rewrite of the compacted partition. The
    # union over ALL tables covers a crash between the folds (a later table
    # may still hold an epoch an earlier table already dropped — re-running
    # must finish folding it).
    live = set()
    for t, _ in tables_cols:
        for row in spark.sql(f"SHOW PARTITIONS {t}").collect():
            live.add(int(row[0].split("=", 1)[1]))
    epochs = [e for e in epochs if e in live]
    if not epochs:
        return 0
    fold = epochs + [int(target_epoch)]
    moved = 0
    first_table = tables_cols[0][0]
    # Each table's read-src → write-target → drop-sources step runs under
    # that table's mutation lock: this is the window where a concurrent
    # takedown's partition rewrite would be lost (the fold copies the
    # pre-takedown rows into the target — see the lock contract above).
    # Per-TABLE locking is enough: the postings and sizes tables are
    # independent delete-only states, so a takedown slotting between the
    # two folds still converges (pinned in tests/test_takedown_concurrency.py).
    for t, cols in tables_cols:
        with table_mutation_lock(t):
            src = spark.table(t).filter(F.col("epoch").isin(fold))
            # materialize BEFORE touching partitions: the write below
            # replaces the very files this plan would otherwise lazily
            # re-read. The dropDuplicates is the crash-recovery dedup
            # described above — free when no crash happened (rows are
            # already unique by key). ``write_tasks`` bounds the output
            # layout: the bucketed V1 writer emits one file per
            # (task, bucket), so the compacted partition has at most
            # write_tasks x n_buckets files — write_tasks=1 (default) gives
            # the canonical one-file-per-bucket layout; pass more for
            # indexes whose standing corpus is too large for single-task
            # I/O. (A repartition on the bucket column does NOT work here:
            # the scan already reports the bucket hash-partitioning, the
            # exchange is elided, and the writer inherits the scan's
            # file-binpacked task layout — observed as 2x the files
            # instead of fewer.)
            merged = (
                src.select(*cols)
                .dropDuplicates(cols)
                .repartition(max(1, int(write_tasks)))
                .localCheckpoint()
            )
            if t == first_table:
                moved = merged.count()
            with dynamic_partition_overwrite(spark):
                merged.select(
                    *cols, F.lit(int(target_epoch)).alias("epoch")
                ).write.insertInto(t, overwrite=True)
            for e in epochs:
                _drop_partition(spark, t, e)
            spark.catalog.refreshTable(t)
    return moved


def _drop_partition(spark, table: str, epoch: int) -> None:
    """The fold's source-partition drop — a separate seam so the
    crash-mid-compaction tests can kill the fold BETWEEN the target-partition
    write and the source drops (the window where folded rows exist in both
    places and only the key-dedup on re-run makes recovery curative)."""
    spark.sql(f"ALTER TABLE {table} DROP IF EXISTS PARTITION (epoch={int(epoch)})")


def remove_ids_from_epoch_table(spark, table: str, ids: DataFrame) -> int:
    """TAKEDOWN (GDPR / data-removal requests): delete every row carrying
    one of the given ids from an id-carrying epoch-partitioned index table,
    rewriting ONLY the partitions that contain them. ``ids``: a one-column
    (id) DataFrame. Returns rows removed.

    Mechanics: a semi join finds the affected epochs; those partitions are
    rewritten without the ids via dynamic partition overwrite; a partition
    left EMPTY by the takedown is dropped explicitly (dynamic overwrite
    only replaces partitions present in the write, so an empty rewrite
    would otherwise silently retain the old files). CONVERGENT on re-run
    after a crash: every step is delete-only and idempotent — a partition
    already rewritten simply has nothing left to remove.

    Scope: id-CARRYING indexes only (jaccard postings/sizes, signature
    bands, IVF vectors). The substring/chunk DISTINCT-HASH index stores no
    ids by design — a shingle hash may be shared by many documents, so
    removing one document's hashes would corrupt membership for the others;
    takedown there requires a rebuild from the retained corpus (or a
    refcounted index, deliberately not built: the 16-byte set is the
    smallest sufficient statistic and rebuilds are cheap at epoch
    granularity).

    A takedown arriving BEFORE any ingestion (the index table does not
    exist yet) is a no-op returning 0 — the id trivially isn't indexed;
    removal requests routinely outlive (or precede) the data.

    Runs under the table's mutation lock: a concurrent compaction fold (or
    another takedown of different ids touching the same partition) would
    otherwise resurrect removed rows — the documented lost-update
    interleavings at ``table_mutation_lock``. Concurrency with plain epoch
    APPENDS needs no lock (disjoint partitions) and is proven live in
    tests/test_takedown_concurrency.py."""
    if not spark.catalog.tableExists(table):
        return 0
    with table_mutation_lock(table):
        return _remove_ids_locked(spark, table, ids)


def _remove_ids_locked(spark, table: str, ids: DataFrame) -> int:
    idx = spark.table(table)
    if "id" not in idx.columns:
        raise ValueError(
            f"takedown needs an id-carrying index; table {table!r} has no id "
            "column (the distinct-hash indexes store no ids by design — "
            "rebuild from the retained corpus instead)"
        )
    ids = ids.select("id").distinct().localCheckpoint()
    affected = {
        int(r["epoch"])
        for r in idx.join(ids, "id", "semi").select("epoch").distinct().collect()
    }
    if not affected:
        return 0
    victim_rows = idx.filter(F.col("epoch").isin(sorted(affected))).join(
        ids, "id", "semi"
    )
    removed = victim_rows.count()
    cleaned = (
        idx.filter(F.col("epoch").isin(sorted(affected)))
        .join(ids, "id", "left_anti")
        .localCheckpoint()  # materialize BEFORE replacing the files it reads
    )
    survivors = {
        int(r["epoch"]) for r in cleaned.select("epoch").distinct().collect()
    }
    with dynamic_partition_overwrite(spark):
        cleaned.write.insertInto(table, overwrite=True)
    for e in sorted(affected - survivors):
        _drop_partition(spark, table, e)
    spark.catalog.refreshTable(table)
    return removed


def remove_ids_from_partitioned_dir(
    spark, data_dir: str, id_col: str, ids: DataFrame
) -> int:
    """TAKEDOWN for an epoch-partitioned parquet DIRECTORY store (the
    services' accepted-corpus dirs, ``data_dir/epoch=K/``): rewrite each
    affected epoch directory without the given ids. ``ids``: one-column
    (id). Returns rows removed. Delete-only and per-epoch, so a crash
    mid-way is cured by re-running — same contract as
    ``remove_ids_from_epoch_table`` for the table-backed indexes.

    A takedown arriving BEFORE any ingestion (``data_dir`` absent or empty)
    is a no-op returning 0 — the id trivially isn't stored. An epoch
    directory EMPTIED by the takedown is deleted outright (mirroring the
    table form's ``_drop_partition``): writing an empty dataset instead
    would leave a data-less directory that breaks schema inference on the
    next ``spark.read.parquet(data_dir)``.

    Serialized per data_dir by the same mutation-lock registry as the
    table form — two concurrent takedowns of different ids rewriting the
    same epoch DIRECTORY would otherwise last-writer-win."""
    with table_mutation_lock(data_dir):
        return _remove_ids_from_dir_locked(spark, data_dir, id_col, ids)


def _remove_ids_from_dir_locked(spark, data_dir, id_col, ids) -> int:
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(data_dir)
    fs = root.getFileSystem(hconf)
    if not fs.exists(root):
        return 0
    # no-op ONLY when the store verifiably holds no data files (dir exists
    # but carries just markers/_takedowns) — probed explicitly, never by
    # swallowing read errors: a takedown that turned a transient corpus-read
    # failure into "0 removed" would commit a success manifest for a GDPR
    # removal that never happened. Real read failures propagate and the
    # stream batch replays.
    it = fs.listFiles(root, True)
    has_data = False
    while it.hasNext():
        if it.next().getPath().getName().endswith(".parquet"):
            has_data = True
            break
    if not has_data:
        return 0
    ids = ids.select("id").distinct().localCheckpoint()
    corpus = spark.read.parquet(data_dir)
    affected = {
        int(r["epoch"])
        for r in corpus.join(ids, corpus[id_col] == ids["id"], "semi")
        .select("epoch")
        .distinct()
        .collect()
    }
    removed = 0
    import os as _os

    for e in sorted(affected):
        path = _os.path.join(data_dir, f"epoch={e}")
        part = spark.read.parquet(path)
        keep = part.join(
            ids, part[id_col] == ids["id"], "left_anti"
        ).localCheckpoint()  # materialize before replacing the files it reads
        n_keep = keep.count()
        removed += part.count() - n_keep
        if n_keep == 0:
            fs.delete(jvm.org.apache.hadoop.fs.Path(path), True)
        else:
            keep.write.mode("overwrite").parquet(path)
    return removed
