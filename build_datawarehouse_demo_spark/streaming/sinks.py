"""Streaming sinks: foreachBatch applies — the effectively-exactly-once
ingest pattern.

Structured Streaming's file/kafka sources give at-least-once delivery
into foreachBatch; making the BATCH APPLY idempotent (replaying the
same micro-batch converges to the same table state) upgrades the
pipeline to effectively exactly-once without any sink-side
transaction support. Each sink here folds a micro-batch through such
an apply: the partitioned MERGE (collapse the batch to
last-change-wins per key, then rewrite only the touched partitions),
the frozen-quantizer RAG index append, and the incremental corpus
states' folds — all pure functions of (stored state, batch contents),
so a checkpoint-replayed batch is a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def stream_rag_index_append(
    docs: DataFrame,
    table_name: str,
    checkpoint_dir: str,
    chunk_size: int = 32,
    overlap: int = 8,
    dim: int = 16,
):
    """Streaming RAG-index maintenance: each micro-batch of NEW
    documents is chunked + hash-embedded
    (plans/rag_index.hash_embed_chunks — the deterministic sandbox
    embedder on the (vec_id, embedding) contract; a real encoder swaps
    in on the same schema) and folded into a persisted trained-IVF
    index via the frozen-quantizer append
    (operators/similarity.ivf_index_append). The index must already
    exist (rag_index_build_persisted over the initial corpus — the
    incremental RAG lane's build half); this sink keeps it FRESH under
    a continuous document feed, which is how a production retrieval
    corpus actually ingests.

    Effectively exactly-once: checkpointing pins batch ids, vec_id is
    a pure function of (doc_id, chunk_id), and the append's id
    anti-join makes a replayed or redelivered document a no-op — so
    at-least-once delivery converges to the index state ONE batch
    append of the whole stream would produce (pinned by the
    stream ≡ batch pytest).

    Scale: per micro-batch cost = the batch's chunk+embed scan, a
    two-level assignment against the stored nlist centroids, and one
    bucketed append — the indexed corpus is never rewritten and never
    rescanned (only its id column, for the idempotence anti-join).
    Quantizer-staleness retrain guidance lives at ivf_index_append
    (~30% appended fraction or 4x list imbalance)."""
    from build_datawarehouse_demo_spark.operators.similarity import (
        ivf_index_append,
    )
    from build_datawarehouse_demo_spark.plans.rag_index import hash_embed_chunks

    # foreachBatch hands the function a DataFrame bound to a CLONED
    # session: its append invalidates the CLONE's relation cache only,
    # so the session that started the stream would keep serving the
    # pre-append file listing from its own cache (observed: appended
    # rows invisible to spark.table until a manual REFRESH TABLE).
    # Capture the outer session and refresh it after every batch.
    outer = docs.sparkSession

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        ivf_index_append(
            hash_embed_chunks(
                batch_df, chunk_size=chunk_size, overlap=overlap, dim=dim
            ),
            table_name,
        )
        outer.catalog.refreshTable(table_name)

    return (
        docs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _stream_state_append(
    docs: DataFrame,
    holder: dict,
    checkpoint_dir: str,
    fold,
    *,
    compact_every: int,
    compact_to: str | None,
    compact_path: str | None,
    migrate_banding: bool,
):
    """The incremental-state streaming sink both corpus pipelines
    share: every micro-batch is folded into ``holder["state"]`` by
    ``fold`` (clean_filter_dedup_apply or training_data_neardup_apply),
    which reads every pipeline knob from the state's ``params``. The
    contract is documented on stream_clean_filter_state_append.

    The per-fold banding migration is the apply's own
    ``migrate_banding=True`` epilogue (plans/training_data._finish_fold:
    counter, the pipeline's migration at the state's params, retire the
    superseded frames), and each apply frees the blocks its fold made
    that the refreshed state does not read. Compaction runs the
    apply's order — write, swap, retire, GC — with the swap being the
    holder's, between the write half and the retire-and-GC half.
    """
    from build_datawarehouse_demo_spark.plans.training_data import (
        _retire_generation,
        _write_generation,
    )

    if compact_every and not compact_to:
        raise ValueError("compact_every requires compact_to (table-name prefix)")
    if migrate_banding and holder["state"].get("n_survivors") is None:
        # seed the incremental survivor counter ONCE at wiring (r16
        # ADVICE: the hook formerly recounted the full survivor frame
        # — a corpus-sized job — every micro-batch). Each fold's apply
        # then adds its O(batch) delta count; a replayed batch folds
        # an empty fresh set and adds 0, so the counter survives
        # at-least-once delivery and restarts with the same holder.
        holder["state"]["n_survivors"] = holder["state"]["survivors"].count()

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        id_col = holder["state"]["params"]["id_col"]
        seen = holder["state"]["survivors"].select(id_col)
        fresh = batch_df.join(seen, id_col, "left_anti")
        st = fold(fresh, holder["state"], migrate_banding=migrate_banding)
        if compact_every and batch_id % compact_every == compact_every - 1:
            # retry safety (r16 ADVICE): write the new generation and
            # SWAP the live state before retiring anything — a
            # foreachBatch retry between the write and the swap must
            # still find the pre-swap blocks and generation files
            # readable (the former order unpersisted and GC'd first,
            # so a retry failed permanently on missing checkpoint
            # blocks). The write half drops no generation (r17 ADVICE
            # closed the consecutive-retry hole: a pre-swap GC could
            # drop the generation the still-unswapped holder reads);
            # after the swap commits, retire the superseded leaves
            # (the new frames are pure table scans, so this frees
            # every old leaf) and GC down to one generation. A crash
            # mid-retire replays against the compacted holder state —
            # the fold is then empty and the re-compaction supersedes
            # this generation normally.
            old = st
            st = _write_generation(old, compact_to, compact_path)
            holder["state"] = st
            _retire_generation(old, st, compact_to, compact_path)
        holder["state"] = st

    return (
        docs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_clean_filter_state_append(
    docs: DataFrame,
    holder: dict,
    checkpoint_dir: str,
    compact_every: int = 0,
    compact_to: str | None = None,
    compact_path: str | None = None,
    migrate_banding: bool = False,
):
    """Streaming corpus-curation maintenance (r14): each micro-batch
    of documents is folded into the modern cleaning stack's
    incremental state (plans/training_data.clean_filter_dedup_apply —
    frozen banding, rep-level stored band keys, append-only deltas),
    so a continuously-ingesting curation run keeps its train/val/test
    output fresh without re-filtering or re-banding the corpus — the
    streaming twin of pipeline_clean_filter_dedup_incremental, exactly
    as stream_rag_index_append is the streaming twin of the RAG
    append lane.

    ``holder`` is ``{"state": <clean_filter_dedup_state dict>}``; the
    refreshed state replaces it after every batch (micro-batches run
    sequentially, so the mutation is race-free). Every fold runs at the
    filter, banding and keep-policy knobs the state was built with
    (its ``params``), so the sink takes none of them.

    Effectively exactly-once: checkpointing pins batch ids, and a
    SAME-ID redelivery (at-least-once replay) is dropped by the
    survivor-id anti-join before the fold — a replayed surviving
    document is a no-op, and a replayed filtered-OUT document re-fails
    the same per-document filters, so at-least-once delivery converges
    to the state one batch apply of the whole stream would produce.
    (A NEW-id redelivery of the same text is the normal re-crawl case:
    it joins its original's digest group and loses the rep race —
    output unchanged, the batch contract. Under the keep-best policy —
    a state built with ``rank_col=...`` — a HIGHER-RANK near-dup
    re-crawl instead DISPLACES the stored representative; see
    clean_filter_dedup_apply.)

    Durability matches the in-memory state contract (localCheckpoint-
    backed frames): a restarted driver rebuilds or reloads state; the
    production variant persists each refreshed DELTA with
    sources/writers.save_table into bucketed state tables, per the
    state builders' docstrings.

    Lifetime (r15 ADVICE): each fold returns lazy `stored ∪ delta`
    unions and retains the delta's checkpoint blocks, so plan depth
    and block count grow per micro-batch. Under ``availableNow`` /
    bounded catch-up runs (the tested path) that growth is bounded by
    the run; for LONG-RUNNING streams pass ``compact_every=N`` (with
    ``compact_to`` as the table-name prefix and optionally
    ``compact_path``): every N folds the refreshed state is compacted
    to bucketed parquet tables, the superseded blocks are retired, and
    superseded table generations are garbage-collected
    (plans/training_data.compact_state), holding plan depth, retained
    blocks AND warehouse table count constant at the compaction
    cadence. The cadence is derived from ``batch_id`` (r15 ADVICE), so
    foreachBatch retries and checkpoint restarts neither double-count
    nor reset it: compaction fires exactly on batches where
    ``batch_id % compact_every == compact_every - 1``. The compacting
    batch itself is retry-safe (r16 ADVICE): nothing is unpersisted or
    GC'd until the new generation is fully written AND the holder
    swap has committed, so a retry at any point either re-folds
    against the intact pre-compaction state or replays an empty fold
    against the compacted one.

    ``migrate_banding=True`` (r15 VERDICT) closes the frozen-banding
    staleness loop for long-running streams: after every fold the
    state's banding is re-trained for the corpus size it has grown to
    (plans/training_data.migrate_clean_filter_banding with the running
    survivor count, maintained INCREMENTALLY: seeded with one count at
    wiring, then += the fold's O(batch) survivor delta — r16 ADVICE,
    no corpus-sized count per micro-batch) — a documented no-op
    between minhash_auto_params boundaries (just past each power of
    ten: 101, 1,001, 10,001, ... docs), so the per-fold cost between
    boundaries is one cached-delta count; at a boundary it pays one
    rebuild of the banding-dependent frames over the stored survivors
    (the filter front never re-runs), and the candidate volume stays
    bounded forever after (the measured 10.6x candidate blowup of a
    400x-stale banding, BENCH_BANDING_MIGRATION_r15_b100.json, is what
    this prevents).
    Checkpoint leaves the migrated state no longer references are
    retired immediately (retire_superseded_state). The migration is the
    apply's own ``migrate_banding=True`` epilogue, so it always runs
    at the state's params; the sink body is _stream_state_append,
    shared with stream_training_data_state_append.
    """
    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_dedup_apply,
    )

    return _stream_state_append(
        docs,
        holder,
        checkpoint_dir,
        clean_filter_dedup_apply,
        compact_every=compact_every,
        compact_to=compact_to,
        compact_path=compact_path,
        migrate_banding=migrate_banding,
    )


def stream_training_data_state_append(
    docs: DataFrame,
    holder: dict,
    checkpoint_dir: str,
    compact_every: int = 0,
    compact_to: str | None = None,
    compact_path: str | None = None,
    migrate_banding: bool = False,
):
    """Streaming maintenance for the NEARDUP corpus pipeline's
    incremental state (r17) — the span-removal-bearing twin of
    stream_clean_filter_state_append, closing the one streaming
    asymmetry the r16 surface left: the clean stack could be
    stream-maintained, the neardup stack (exact dedup → frozen-banding
    LSH → components → Lee-et-al span removal → split) only had batch
    applies. Each micro-batch folds through
    plans/training_data.training_data_neardup_apply, so stored
    signatures, pairs, the gram index and untouched output rows are
    REUSED — only the batch is scanned, only span-affected documents
    rebuild.

    Contract-identical to the clean sink: both are thin wrappers over
    the one shared sink, _stream_state_append (read the clean sink's
    docstring for the details):
    - ``holder`` = {"state": <training_data_neardup_state dict>},
      refreshed after every batch; every fold runs at the filter /
      banding / span / keep-policy knobs recorded in the state's
      ``params``.
    - effectively exactly-once: checkpoint-pinned batch ids + the
      survivor-id anti-join drop same-id redeliveries; a new-id
      re-crawl joins its original's digest group and loses the rep
      race (output unchanged — the batch contract). Under keep-best
      (a state built with ``rank_col=...``) a higher-rank NEAR-dup
      re-crawl displaces the stored rep — see
      training_data_neardup_apply.
    - ``compact_every=N`` / ``compact_to`` / ``compact_path``: every
      N batches (batch_id-derived cadence, retry/restart-stable) the
      state compacts to bucketed parquet generations with the
      retry-safe order — write without GC, SWAP the holder, then
      retire superseded blocks and GC to one generation.
    - ``migrate_banding=True``: per-fold frozen-banding migration at
      the incremental survivor count (seeded once at wiring, += each
      fold's O(batch) delta), run by the apply's own
      ``migrate_banding`` epilogue through
      migrate_training_data_neardup_banding — the build body rerun
      over the stored survivors at the new banding, span stage
      included; superseded frames retired.
    """
    from build_datawarehouse_demo_spark.plans.training_data import (
        training_data_neardup_apply,
    )

    return _stream_state_append(
        docs,
        holder,
        checkpoint_dir,
        training_data_neardup_apply,
        compact_every=compact_every,
        compact_to=compact_to,
        compact_path=compact_path,
        migrate_banding=migrate_banding,
    )


def stream_merge_to_partitioned_parquet(
    changes: DataFrame,
    target_path: str,
    key_cols: list[str],
    order_cols: list[str],
    partition_col: str,
    checkpoint_dir: str,
    op_col: str | None = "op",
    version_aware: bool = False,
    tombstone_retention: float | int | None = None,
):
    """foreachBatch MERGE sink: each micro-batch of a CDC feed is
    applied to a PARTITIONED parquet target through
    operators/merge.py:merge_into_partitioned_parquet — the partitioned
    MERGE this module's header promises at 100 TB: only partitions the
    batch touches are read or rewritten, tombstones delete, the first
    batch bootstraps the target from the collapsed feed.

    Same effectively-exactly-once contract as every sink here:
    checkpointing pins batch ids and the merge apply is idempotent
    (replaying a batch converges — pinned by the merge tests), so
    at-least-once delivery upgrades to exactly-once table state.

    Ordering contract: within a batch, order_cols decide (any
    arrival order works); ACROSS batches the default assumes the feed
    is non-decreasing in order_cols per key — the log-ordered delivery
    every CDC source (Kafka partition-per-key, Debezium) provides.
    ``version_aware=True`` removes that assumption: the target keeps
    the order columns and stale cross-batch changes lose to the stored
    row (the ``source.order > target.order`` MERGE condition of a
    lakehouse sink) — pinned by the out-of-order stream test.

    ``tombstone_retention`` bounds the sibling tombstone store at CDC
    scale: each batch's feed watermark expires tombstones older than
    the horizon (see merge_into_partitioned_parquet — out-of-order
    changes beyond the horizon become undefined, the bounded promise).
    """
    from build_datawarehouse_demo_spark.operators.merge import (
        merge_into_partitioned_parquet,
    )

    if tombstone_retention is not None and not (version_aware and op_col is not None):
        # fail at wiring time, not inside batch 0's foreachBatch
        raise ValueError(
            "tombstone_retention requires version_aware=True and an op_col"
        )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        merge_into_partitioned_parquet(
            batch_df.sparkSession,
            target_path,
            batch_df,
            key_cols=key_cols,
            order_cols=order_cols,
            partition_col=partition_col,
            op_col=op_col,
            version_aware=version_aware,
            tombstone_retention=tombstone_retention,
        )

    return (
        changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
