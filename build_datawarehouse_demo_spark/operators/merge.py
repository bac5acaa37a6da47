"""File-level MERGE INTO over partitioned parquet.

The reference sinks whole tables (load.py:35-54 overwrite semantics);
lakehouse formats with a transactional MERGE are capability-gated in
this container (sources/formats.py). This module supplies the missing
upsert-at-the-storage-layer: merge-as-rewrite over a parquet directory
partitioned by one column —

1. the change feed names the partitions it touches (it must carry the
   partition column; a key's partition is IMMUTABLE under this
   contract, the standard assumption for partitioned upserts — moving
   a key is a delete in one partition plus an insert in another).
   Use int or plain-string partition values: Spark's partition-column
   type inference on readback must yield the same type the feed
   carries, or the union fails loudly (date-LOOKING strings infer as
   DATE — prefer an int day key, as the registered entry does);
2. only target partitions intersecting the feed's partition values are
   READ (partition pruning does the file skipping);
3. the feed collapses last-change-wins per key
   (operators/scd.py:apply_cdc_changes — same op_col/tombstone
   semantics), surviving upserts replace matched target rows, deletes
   drop them, unmatched keys insert;
4. only touched partitions are REWRITTEN
   (`spark.sql.sources.partitionOverwriteMode=dynamic` scoped to the
   one write); untouched partitions' files are never opened or
   replaced (file-listing-asserted in tests/test_merge.py).

Idempotent by construction: re-applying the same feed converges to the
same state (pytest replay test, the same contract as the foreachBatch
idempotent sink).

``version_aware=True`` additionally persists DELETES as tombstones in
a sibling ``<target>_tombstones`` store (key + order + partition
columns, partitioned the same way). Without them a delete erases the
key's order value, so a STALE lower-order update arriving in a later
micro-batch would find no competitor and re-insert the deleted key —
the classic lakehouse MERGE pitfall. With them the final state is
independent of how the feed is sliced into batches (pinned by the
delete-then-stale-update cross-batch test). The data directory stays a
plain parquet table — tombstones never pollute direct reads.

Scale note: the new state of touched partitions is localCheckpoint'ed
before the write because Spark cannot overwrite a path it is currently
reading. That materialization is bounded by the touched-partition
volume — the working set a MERGE rewrites anyway. A table format with
a transaction log (Delta/Iceberg) replaces this with an atomic commit;
this operator is the format-free equivalent, and deliberately keeps
the same call shape so swapping the sink is a one-line change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.operators.scd import apply_cdc_changes
from build_datawarehouse_demo_spark.session import materialize
from build_datawarehouse_demo_spark.sources.writers import parquet_writer


def tombstone_store_path(target_path: str) -> str:
    """Sibling directory holding persisted tombstones for a
    version_aware merge target."""
    return target_path.rstrip("/") + "_tombstones"


def read_merged_parquet(spark: SparkSession, target_path: str) -> DataFrame:
    """Documented read entry point for a merge target.

    version_aware tombstones live in the sibling
    ``<target>_tombstones`` store, so the data directory is always a
    plain parquet table — any reader sees the correct logical state.
    This helper exists to make the contract explicit at call sites.
    """
    return spark.read.parquet(target_path)


def _exists(spark: SparkSession, path: str):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(hconf).exists(p)


def _partition_dir(spark: SparkSession, partition_col: str, value) -> str:
    """The ``col=value`` directory name Spark's partitioned writer uses
    for ``value``: Hive path escaping (``:``, ``%``, ``/``, ``=`` ...
    become ``%XX``), NULL as ``__HIVE_DEFAULT_PARTITION__``."""
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    return utils.getPartitionPathString(
        partition_col, None if value is None else str(value)
    )


def _delete_partition_dirs(
    spark: SparkSession, base: str, partition_col: str, values
) -> None:
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for v in values:
        p = jvm.org.apache.hadoop.fs.Path(
            f"{base}/{_partition_dir(spark, partition_col, v)}"
        )
        fs = p.getFileSystem(hconf)
        fs.delete(p, True)


def _anchor_schema_if_emptied(
    spark: SparkSession,
    base: str,
    partition_col: str,
    template: DataFrame,
    part_val,
) -> None:
    """A merge whose feed deletes the table's LAST rows removes every
    partition directory, leaving a path with no parquet footer —
    ``spark.read.parquet`` then fails UNABLE_TO_INFER_SCHEMA and the
    table is bricked for every downstream reader (r20, found by the
    hypothesis merge model test). When no data file remains, write one
    EMPTY schema-bearing parquet file into the (Hive-escaped)
    ``part=<part_val>`` directory (footer only — zero rows, no
    partition column, exactly the sibling-file layout), so the table
    reads back as its empty self and the next merge's target scan sees
    the right schema.
    Local-filesystem targets only (the sandbox case) — on object
    stores keep a catalog/manifest instead (S3A_CHECKLIST)."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(base)
    fs = p.getFileSystem(hconf)
    if not fs.exists(p):
        fs.mkdirs(p)
    it = fs.listFiles(p, True)
    while it.hasNext():
        name = it.next().getPath().getName()
        if name.endswith(".parquet"):
            return  # data (or a prior anchor) still present
    uri = fs.makeQualified(p).toUri()
    if uri.getScheme() not in (None, "file"):
        return  # non-local target: schema durability is the catalog's job
    import os

    import pyarrow.parquet as papq
    from pyspark.sql.types import StructType

    # schema-only: never scan the (now fileless) target — build the
    # empty frame from the captured schema
    data_schema = StructType(
        [f for f in template.schema.fields if f.name != partition_col]
    )
    tbl = spark.createDataFrame([], data_schema).toArrow()
    d = os.path.join(uri.getPath(), _partition_dir(spark, partition_col, part_val))
    os.makedirs(d, exist_ok=True)
    papq.write_table(tbl, os.path.join(d, "part-00000-empty-anchor.parquet"))


def _dynamic_overwrite(
    spark: SparkSession, df: DataFrame, path: str, partition_col: str
) -> None:
    """Overwrite only the partitions present in `df`, scoping the
    dynamic-overwrite conf to this one write."""
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(conf_key, None)
    try:
        spark.conf.set(conf_key, "dynamic")
        parquet_writer(df).mode("overwrite").partitionBy(partition_col).save(path)
    finally:
        if prior is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prior)


def merge_into_partitioned_parquet(
    spark: SparkSession,
    target_path: str,
    changes: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    partition_col: str,
    op_col: str | None = "op",
    delete_op: str = "D",
    version_aware: bool = False,
    max_touched_partitions: int = 10_000,
    tombstone_retention: float | int | None = None,
) -> list:
    """Apply a CDC change feed to a partitioned parquet table in
    place, rewriting only touched partitions. Returns the touched
    partition values (sorted) so callers/tests can audit the blast
    radius.

    ``version_aware=False`` (default): the feed unconditionally
    replaces matched keys — correct when batches arrive log-ordered
    per key (the standard CDC topic contract).
    ``version_aware=True``: the target rows compete with the feed
    under the same ``order_cols`` ordering — an OLD change arriving
    after a newer one is a no-op, the MERGE condition
    ``source.order > target.order`` of a lakehouse sink. Requires the
    target to CARRY the order columns (the bootstrap write keeps
    them). Winning deletes persist as tombstones in the sibling
    ``<target>_tombstones`` store so stale changes in LATER batches
    still lose to them; the data directory itself never holds
    tombstone rows.

    ``max_touched_partitions`` bounds the driver-side collect of the
    feed's distinct partition values — the CDC blast-radius contract
    made explicit. A merge is touched-partition-bounded BY DESIGN
    (that is what makes it cheaper than a full rewrite); a feed
    touching more partitions than this is almost always a bug (wrong
    partition column, unpartitioned feed) and fails loudly instead of
    silently materializing a full-table rewrite through the driver.

    ``tombstone_retention`` (version_aware + op_col only; VERDICT r7
    item 3) bounds the sibling store: after each merge, tombstones in
    the TOUCHED partitions whose first order value falls below
    ``watermark - tombstone_retention`` are dropped, where the
    watermark is the max order across the touched partitions' contest
    winners (>= the feed's max — no side-channel clock needed). The
    out-of-order contract becomes explicit: a stale update arriving
    while its delete's order is still inside the horizon loses to the
    tombstone as before; one arriving MORE than the horizon after the
    watermark has passed the delete is UNDEFINED (it may resurrect the
    key) — the same bounded promise as a watermarked stream or a
    Delta-style VACUUM of removed files. None (default) retains
    forever. Untouched partitions keep their tombstones until a feed
    next touches them (dropping them would expand the rewrite blast
    radius).
    """
    if tombstone_retention is not None and not (version_aware and op_col is not None):
        raise ValueError(
            "tombstone_retention only applies to version_aware=True merges "
            "with an op_col (only those keep a tombstone store)"
        )
    part_vals = [
        r[0]
        for r in changes.select(partition_col)
        .distinct()
        .limit(max_touched_partitions + 1)
        .collect()
    ]
    if len(part_vals) > max_touched_partitions:
        raise ValueError(
            f"merge feed touches > {max_touched_partitions} distinct "
            f"'{partition_col}' partitions — beyond the CDC blast-radius "
            "contract this merge is designed for (touched partitions are "
            "collected to the driver and rewritten). Raise "
            "max_touched_partitions if this is intentional, or rewrite "
            "the table wholesale instead of merging."
        )
    if not part_vals:
        return []

    keep_tomb = version_aware and op_col is not None
    tomb_path = tombstone_store_path(target_path)
    if not keep_tomb and _exists(spark, tomb_path):
        # round-7 ADVICE: silently ignoring a persisted tombstone store
        # lets deleted keys resurrect and leaves the stale directory.
        # Guard on keep_tomb, not version_aware: version_aware=True
        # with op_col=None ALSO skips the store (review finding r8).
        raise ValueError(
            f"target has a persisted tombstone store at {tomb_path} "
            "(it was maintained with version_aware=True + op_col) but this "
            f"merge (version_aware={version_aware}, op_col={op_col!r}) "
            "would silently ignore stored deletes. Match the original "
            "mode, or remove the tombstone store if the delete history "
            "is moot."
        )
    # tombstone-store schema: just enough to contest (and re-win) —
    # key identity, ordering, and the partition it lives in
    tomb_cols = list(dict.fromkeys([*key_cols, *order_cols, partition_col]))

    def _retain(tombs: DataFrame, winners: DataFrame) -> DataFrame:
        """Drop tombstones older than the watermark minus the retention
        horizon; no-op when retention unset. The watermark is the max
        order across the CONTEST WINNERS of the touched partitions —
        computed from the already-localCheckpoint'ed winners (one cheap
        scalar agg over materialized rows, not an extra pass over the
        unmaterialized feed; review finding r8). Winners-max >= feed-max
        (every feed row competed), so it is a monotone, MORE ADVANCED
        clock: tombstones expire at the same time or EARLIER than under
        a feed-only watermark (ADVICE r8 — the earlier wording inverted
        this). Consequence: one hot touched partition's high order
        values can advance the clock past a lagging partition's
        tombstones before ``tombstone_retention`` of that partition's
        OWN order-time has elapsed — retention is measured against the
        global winners clock, not per partition. Within the documented
        beyond-horizon-undefined contract this is sound (retention is a
        minimum guarantee against the clock stated here); if per-
        partition horizons matter, shrink batches or raise retention to
        cover cross-partition lag."""
        if tombstone_retention is None:
            return tombs
        hwm = winners.agg(F.max(order_cols[0])).collect()[0][0]
        if hwm is None:
            return tombs
        return tombs.where(
            F.col(order_cols[0]) >= F.lit(hwm) - F.lit(tombstone_retention)
        )

    if not _exists(spark, target_path):
        # bootstrap: no target yet (first micro-batch of a streaming
        # merge sink) — the collapsed feed IS the initial state. In
        # version_aware mode winning tombstones go to the sibling
        # store so a stale change in a later batch still loses to them.
        winners = apply_cdc_changes(
            changes,
            key_cols,
            order_cols,
            op_col=op_col,
            delete_op=delete_op,
            keep_tombstones=keep_tomb,
        )
        if keep_tomb:
            winners = materialize(winners)
            is_del = F.col(op_col) == delete_op
            parquet_writer(
                _retain(winners.where(is_del).select(*tomb_cols), winners)
            ).mode("overwrite").partitionBy(partition_col).save(tomb_path)
            winners = winners.where(~is_del)
        parquet_writer(winners.drop(*([op_col] if op_col else []))).mode(
            "overwrite"
        ).partitionBy(partition_col).save(target_path)
        return sorted(part_vals)

    target = spark.read.parquet(target_path)
    data_cols = list(target.columns)
    touched = target.where(F.col(partition_col).isin(part_vals))

    if version_aware:
        # target rows enter the same last-change-wins contest as the
        # feed: live rows as upserts, persisted tombstones as deletes,
        # each at their STORED order values — so a stale feed change
        # loses to the row (or the delete) already in the table
        tag = [op_col] if op_col else []
        stored = touched.withColumns({c: F.lit("U") for c in tag}).select(
            *data_cols, *tag
        )
        if keep_tomb and _exists(spark, tomb_path):
            from pyspark.sql.types import StructType

            dtypes = dict(target.dtypes)
            # explicit schema (types come from the target, which carries
            # every tombstone column): an EMPTY store — bootstrap batch
            # had no deletes — has no files to infer from
            tomb_schema = StructType([target.schema[c] for c in tomb_cols])
            tombs = spark.read.schema(tomb_schema).parquet(tomb_path).where(
                F.col(partition_col).isin(part_vals)
            )
            # widen to the data schema (columns a tombstone doesn't
            # carry are null — if it wins, the key is gone anyway)
            widened = tombs.select(
                *[
                    (
                        F.col(c)
                        if c in tombs.columns
                        else F.lit(None).cast(dtypes[c])
                    ).alias(c)
                    for c in data_cols
                ]
            ).withColumn(op_col, F.lit(delete_op))
            stored = stored.unionByName(widened)
        combined = stored.unionByName(changes.select(*data_cols, *tag))
        # one last-change-wins pass over everything: contested keys
        # resolve by order, keys absent from the feed win trivially as
        # their own only row — no separate anti-join needed
        winners = apply_cdc_changes(
            combined,
            key_cols,
            order_cols,
            op_col=op_col,
            delete_op=delete_op,
            keep_tombstones=keep_tomb,
        )
        if keep_tomb:
            # materialize before overwriting the paths being read;
            # both the data write and the tombstone write feed from it
            winners = materialize(winners)
            is_del = F.col(op_col) == delete_op
            new_tombs = _retain(winners.where(is_del).select(*tomb_cols), winners)
            _dynamic_overwrite(spark, new_tombs, tomb_path, partition_col)
            # touched partitions whose tombstones all vanished (every
            # delete was superseded by a newer upsert) emit nothing —
            # drop their stale store directories
            tomb_present = {
                r[0] for r in new_tombs.select(partition_col).distinct().collect()
            }
            _delete_partition_dirs(
                spark,
                tomb_path,
                partition_col,
                [v for v in part_vals if v not in tomb_present],
            )
            # winners is already materialized — safe to overwrite
            new_state = winners.where(~is_del).select(*data_cols)
        else:
            new_state = materialize(winners.select(*data_cols))
    else:
        # collapse the feed: last change per key wins, tombstones drop
        collapsed = apply_cdc_changes(
            changes, key_cols, order_cols, op_col=op_col, delete_op=delete_op
        ).select(*data_cols)
        # delete keys = keys whose LAST change is a tombstone: they must
        # leave the target, and they are exactly the feed keys absent
        # from `collapsed`
        feed_keys = changes.select(*key_cols).distinct()

        kept = touched.join(feed_keys, on=key_cols, how="left_anti")
        new_state = materialize(kept.unionByName(collapsed))

    _dynamic_overwrite(spark, new_state, target_path, partition_col)

    # dynamic overwrite only replaces partitions PRESENT in the output:
    # a partition whose rows were all deleted emits nothing and would
    # keep its stale files — drop those directories explicitly
    present = {r[0] for r in new_state.select(partition_col).distinct().collect()}
    _delete_partition_dirs(
        spark,
        target_path,
        partition_col,
        [v for v in part_vals if v not in present],
    )
    if not present:
        # the feed may have deleted the table's last rows — keep the
        # path readable (schema anchor; no-op while any file remains)
        _anchor_schema_if_emptied(
            spark, target_path, partition_col, target, sorted(part_vals)[0]
        )
    return sorted(part_vals)
