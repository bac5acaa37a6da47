"""SparkSession construction.

The reference has no session concept — it opens ad-hoc MinIO clients per
thread (/root/reference/transformation.py:56) and an embedded DuckDB
connection (/root/reference/transformation.py:521). Here a single
SparkSession is the engine: Catalyst supplies the logical-plan /
optimizer stage the reference lacks (SURVEY.md §4).

Scale notes (100 TB design):
- AQE on: runtime coalescing, skew-join splitting, and
  broadcast-join conversion replace the reference's hand-rolled
  dict-lookup joins (/root/reference/transformation.py:334-338).
- shuffle partitions default to cores locally; on a real cluster AQE's
  coalescing makes the static number mostly a ceiling.
- Arrow on for every pandas boundary (toPandas / pandas UDFs).
- UTC session timezone so timestamp semantics match UTC-naive engines
  (DuckDB oracle, parquet at rest).

Stage boundaries: every eager materialization in plans/, operators/ and
streaming/ goes through ``materialize``, and the functions that build
or fold an incremental state own the blocks they make (``block_scope``).
"""

from __future__ import annotations

import functools
import os
import threading

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "build_datawarehouse_demo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    Local mode is a single JVM; on a cluster the same configs hold —
    nothing here assumes local execution.
    """
    cpus = int(DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # 16kb floor instead of the 1MB default (r14, measured):
        # with parallelismFirst, sub-1MB shuffle stages coalesce to
        # ONE partition, serializing every small stage — on the
        # checkpoint-anchored dedup/pipeline plans that tax was ~2x
        # wall time at sf0.1 (3.1s -> 1.55s on the collapsed minhash
        # lane with the floor lowered; the whole residual "AQE tax"
        # in the r14 profiling). Scale-neutral by construction: any
        # stage whose partitions exceed 16kb coalesces exactly as
        # before, so sf1+ plans are untouched — only metadata-sized
        # stages keep their parallelism.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16kb")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # read TIMESTAMP(NANOS) parquet columns as long instead of
        # erroring; readers.read_parquet converts them back to
        # timestamps with integer µs division (no double round-trip).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _driver_memory())
    )
    if master or not _in_active_session():
        builder = builder.master(master or f"local[{cpus}]")
    # deployment-tuning surface (r19): semicolon-separated k=v pairs,
    # e.g. SPARK_GRAFT_EXTRA_CONF="spark.io.compression.codec=zstd;
    # spark.sql.files.maxPartitionBytes=512m". Lets a cluster deploy
    # (or an A/B measurement) set scale-dependent knobs without code
    # edits; defaults stay exactly as above so the driver's bench is
    # unaffected unless the env asks.
    for pair in filter(None, os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";")):
        k, _, v = pair.partition("=")
        if k.strip() and v:
            builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _in_active_session() -> bool:
    return SparkSession.getActiveSession() is not None


def _driver_memory() -> str:
    """Default driver heap: half the host's physical memory, capped at
    16g. In local mode the driver heap is the whole engine's heap, and
    a default of all the RAM leaves no room for a second session (a
    test run beside an oracle sweep) or the Python workers."""
    half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(half_mb, 16 * 1024)}m"


_scopes = threading.local()


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly checkpoint ``df`` into executor storage and return the
    frame backed by that block — the one stage boundary of plans/,
    operators/ and streaming/. When the calling thread runs inside a
    ``block_scope`` function, the block's RDD id is recorded for that
    scope (an id, not a py4j proxy: a held proxy keeps its RDD alive)."""
    out = df.localCheckpoint()
    stack = getattr(_scopes, "stack", None)
    if stack:
        # the checkpointed frame's plan is the one LogicalRDD leaf
        stack[-1].add(out._jdf.queryExecution().analyzed().rdd().id())
    return out


def checkpoint_leaves(frames: dict) -> list:
    """The JVM RDDs behind the checkpoint-backed leaves (LogicalRDD) of
    the analyzed plan of every DataFrame among ``frames``' values."""
    out = []
    for df in frames.values():
        if not isinstance(df, DataFrame):
            continue
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            node = leaves.apply(i)
            if node.getClass().getSimpleName() == "LogicalRDD":
                out.append(node.rdd())
    return out


def block_scope(fn):
    """Make ``fn`` (which returns a dict of frames, or raises) the owner
    of every block materialized on this thread while it runs, by it or
    by anything it calls. When it returns or raises, each of those
    blocks that no DataFrame in the returned dict reads is unpersisted;
    the rest pass to the enclosing scope, if there is one, or to the
    caller. The scope frees nothing made on another thread or before
    it opened (retiring a superseded input state is the caller's
    explicit step, e.g. compaction's)."""

    @functools.wraps(fn)
    def scoped(*args, **kwargs):
        stack = _scopes.__dict__.setdefault("stack", [])
        made: set = set()
        stack.append(made)
        out = None
        try:
            out = fn(*args, **kwargs)
            return out
        finally:
            stack.pop()
            if made:
                kept = made & {r.id() for r in checkpoint_leaves(out or {})}
                free_blocks(made - kept)
                if stack:
                    stack[-1].update(kept)

    return scoped


def free_blocks(rdd_ids) -> None:
    """Unpersist the RDDs with ids ``rdd_ids`` through
    ``SparkContext.unpersistRDD`` (package-private in Scala, public to
    py4j) — the call ``RDD.unpersist`` makes after logging a warning
    for every locally checkpointed RDD, whose lineage was truncated on
    purpose: that is what a stage boundary is. An id already freed is
    a no-op."""
    sc = SparkContext._active_spark_context._jsc.sc()
    for rid in rdd_ids:
        sc.unpersistRDD(rid, False)
