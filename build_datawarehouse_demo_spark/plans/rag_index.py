"""RAG-style retrieval index pipeline.

Composes the chunking, featurization, and IVF operator families into
the index-build + query pass a retrieval-augmented-generation corpus
actually runs:

    chunk (sliding token windows) -> hash-embed each chunk (feature
    hashing, the HashingTF shape, as a DENSE vector) -> train the IVF
    coarse quantizer on the chunk vectors -> two-level assignment
    (the inverted lists) -> nprobe top-k search

Each stage is the SAME operator registered (and oracle-checked)
individually — chunk_documents, the hash32 featurizer family,
ivf_train_sampled / ivf_group_centroids / ivf_assign_two_level /
ivf_topk_assigned; this module only wires them. The embedder is the
deterministic stand-in this environment supports (no model weights in
the sandbox — the multimodal-decode discipline): the Spark-side
plumbing (chunk ids, dense-vector schema, quantizer training, index
shape, search) is real and the whole chain is restated in DuckDB by
the `pipeline_rag_index_search` oracle. Swapping in a real encoder is
one `withColumn` on the same (vec_id, embedding) contract.

Scale shape: chunking + embedding are ONE codegen'd scan (posexplode
windows, then a transform/filter HOF per chunk — no Python, no
shuffle; chunks stay on the parent document's partition). Training
samples ~ppc*nlist chunk vectors (spread + checkpointed once), the
two-level assignment is the linearized r8 path, and search scores
only the probed inverted lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.operators.dedup import hash32
from build_datawarehouse_demo_spark.operators.text import chunk_documents, tokens
from build_datawarehouse_demo_spark.session import materialize

#: chunk-uid stride: uid = doc_id * STRIDE + chunk_id. Collision-free
#: while every document chunks to < STRIDE windows — at the default
#: 24-token step that is documents under ~24k tokens; raise for book-
#: length corpora (the uid only needs to be a stable unique int).
CHUNK_UID_STRIDE = 1000


def hash_embed_chunks(
    docs: DataFrame,
    chunk_size: int = 32,
    overlap: int = 8,
    dim: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    stride: int = CHUNK_UID_STRIDE,
) -> DataFrame:
    """Chunk documents and hash-embed every chunk as a dense
    ``dim``-bucket token-count vector (feature hashing — the
    ml_feature_hashing operator's buckets, assembled densely):
    vec[i] = |{tokens t in chunk : hash32(t) mod dim = i}|.

    Entirely inside one codegen'd scan: chunking is a posexplode of
    window starts, the vector a transform-over-sequence HOF whose
    inner filter counts the chunk's tokens per bucket — no shuffle,
    no UDF, engine-portable (md5 bucket hash). Output:
    (vec_id, embedding array<double>) on the ivf_* contract, with
    vec_id = doc_id * stride + chunk_id."""
    chunks = chunk_documents(
        docs, id_col=id_col, text_col=text_col,
        chunk_size=chunk_size, overlap=overlap,
    )
    # stage the per-token BUCKETS first (one md5 per token), then count
    # buckets with cheap int comparisons. The direct form — an outer
    # transform over buckets whose inner filter hashes every token —
    # recomputes the md5 dim times per token (HOFs sit outside codegen
    # subexpression elimination, the quality_score staging lesson);
    # measured as the dominant term of the r10 pre-fix 1.827 scale
    # exponent (BENCH_SCALE_RAG_r10_sf1_sf8_PRECATCH.json).
    staged = chunks.withColumn(
        "__cb",
        F.transform(tokens("chunk_text"), lambda t: F.pmod(hash32(t), F.lit(dim))),
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.size(F.filter(F.col("__cb"), lambda b: b == i)).cast("double"),
    )
    # the stride contract is ENFORCED, not just documented (r11
    # ADVICE): a document chunking to >= stride windows would silently
    # alias another document's uid space — and the aliased ids would
    # sail through the append path's anti-join, deduping unrelated
    # vectors. Fail the job at the first violating row instead.
    uid = F.when(
        F.col("chunk_id") < F.lit(int(stride)),
        (F.col(id_col) * stride + F.col("chunk_id")).cast("bigint"),
    ).otherwise(
        F.raise_error(
            F.format_string(
                "hash_embed_chunks: chunk_id %s of document %s >= stride "
                f"{int(stride)} — vec_id would alias another document; "
                "raise the stride parameter (CHUNK_UID_STRIDE)",
                F.col("chunk_id"),
                F.col(id_col),
            )
        )
    )
    return staged.select(
        uid.alias("vec_id"),
        vec.alias("embedding"),
    )


def build_rag_index(
    chunk_vecs: DataFrame,
    n_chunks: int,
    gprobe: int = 2,
    stride: int = CHUNK_UID_STRIDE,
) -> tuple[DataFrame, DataFrame]:
    """Train the coarse quantizer on the chunk vectors and build the
    inverted lists (the r8 linearized path: sampled Lloyd ->
    super-centroid grouping -> two-level assignment). Seeds are the
    first chunk of documents 0..nlist-1 (vec_id % stride = 0 —
    deterministic and dense even though chunk uids are sparse).
    Returns (assigned inverted lists, trained centroids)."""
    import math

    from build_datawarehouse_demo_spark.operators.similarity import (
        ivf_assign_two_level,
        ivf_group_centroids,
        ivf_train_sampled,
    )

    nlist = max(2, math.ceil(math.sqrt(n_chunks)))
    seeds = chunk_vecs.filter(
        (F.col("vec_id") % stride == 0) & (F.col("vec_id") < nlist * stride)
    ).select(F.col("vec_id").alias("centroid_id"), "embedding")
    cents = ivf_train_sampled(
        chunk_vecs,
        seeds,
        n=n_chunks,
        nlist=nlist,
        n_iter=2,
        round_to=6,
        # chunk_vecs arrives spread + checkpoint-backed (this
        # function's contract — both callers materialize it at the
        # embed boundary), so at k == 1 a second materialization of
        # the identical rows is pure waste (r18, VERDICT r17 item 7)
        materialize_sample=False,
    )
    ngroups = max(1, math.ceil(math.sqrt(nlist)))
    sup, groups = ivf_group_centroids(
        cents, n_groups=ngroups, n_iter=1, round_to=6
    )
    assigned = ivf_assign_two_level(
        chunk_vecs, cents, sup, groups, gprobe=gprobe
    )
    return assigned, cents


def rag_index_build_persisted(
    docs: DataFrame,
    table_name: str,
    chunk_size: int = 32,
    overlap: int = 8,
    dim: int = 16,
    path: str | None = None,
) -> int:
    """Build the PERSISTED trained-IVF index over a document corpus's
    chunk vectors (the build half of the incremental RAG lane): chunk +
    hash-embed, train the sampled-Lloyd quantizer seeded with the first
    chunk of documents 0..nlist-1, persist bucketed inverted lists +
    centroids as catalog tables (build_ivf_index). Returns n_chunks."""
    import math

    from build_datawarehouse_demo_spark.operators.dedup import spread
    from build_datawarehouse_demo_spark.operators.similarity import build_ivf_index

    # r20 (guide §2.5 input skew): spread the DOCS, not the embedded
    # output — a single-file corpus arrives as one split, and with the
    # exchange ABOVE the projection the whole chunk+md5+bucket-count
    # amplification ran in that one task (measured 0.8s -> 0.3s warm at
    # sf0.1, identical rows). The checkpoint inherits the same 32-way
    # layout either way.
    vecs = materialize(hash_embed_chunks(
        spread(docs), chunk_size=chunk_size, overlap=overlap, dim=dim
    ))
    n = vecs.count()
    nlist = max(2, math.ceil(math.sqrt(n)))
    seeds = vecs.filter(
        (F.col("vec_id") % CHUNK_UID_STRIDE == 0)
        & (F.col("vec_id") < nlist * CHUNK_UID_STRIDE)
    ).select(F.col("vec_id").alias("centroid_id"), "embedding")
    build_ivf_index(vecs, table_name, seeds=seeds, n=n, path=path)
    return n


def rag_index_append_search(
    docs_old: DataFrame,
    docs_new: DataFrame,
    table_name: str,
    n_probe_docs: int = 5,
    k: int = 5,
    nprobe: int = 4,
    chunk_size: int = 32,
    overlap: int = 8,
    dim: int = 16,
    path: str | None = None,
) -> DataFrame:
    """Incremental RAG index refresh — the daily operation of a
    production retrieval corpus: the persisted index is built ONCE
    over the existing documents, and each new document batch is
    chunked, embedded, and folded into the stored inverted lists via
    the frozen-quantizer append (`ivf_index_append`: assignment
    rederived from the STORED centroids with the build's own
    deterministic functions — no retraining, no rewrite of existing
    lists; the training-pipeline incremental discipline applied to the
    retrieval index). Search then runs over the union lists exactly as
    if the whole corpus had been indexed at build time with the same
    quantizer.

    Per-refresh cost is the NEW batch's chunk+embed scan plus its
    two-level assignment and a bucketed append — the old corpus is
    touched only through the stored centroid table (nlist rows) and
    the id anti-join that makes redelivered batches idempotent.
    Retrain guidance lives at ivf_index_append (~30% appended or 4x
    list imbalance).

    Returns top-``k`` search results probed with the first chunk of
    documents 0..n_probe_docs-1 of the COMBINED corpus."""
    from build_datawarehouse_demo_spark.operators.dedup import spread
    from build_datawarehouse_demo_spark.operators.similarity import (
        ivf_index_append,
        ivf_index_search_topk,
    )

    rag_index_build_persisted(
        docs_old, table_name,
        chunk_size=chunk_size, overlap=overlap, dim=dim, path=path,
    )
    # spread the input docs (r20 — see rag_index_build_persisted note)
    new_vecs = hash_embed_chunks(
        spread(docs_new), chunk_size=chunk_size, overlap=overlap, dim=dim
    )
    ivf_index_append(new_vecs, table_name)
    spark = docs_old.sparkSession
    lists = spark.table(table_name)
    cents = spark.table(f"{table_name}_centroids")
    probes = lists.filter(
        (F.col("vec_id") % CHUNK_UID_STRIDE == 0)
        & (F.col("vec_id") < n_probe_docs * CHUNK_UID_STRIDE)
    ).select(
        F.col("vec_id").alias("probe_id"),
        F.col("vec").cast("array<double>").alias("embedding"),
    )
    return ivf_index_search_topk(lists, cents, probes, k=k, nprobe=nprobe)


def rag_index_search(
    docs: DataFrame,
    n_probe_docs: int = 5,
    k: int = 5,
    nprobe: int = 4,
    chunk_size: int = 32,
    overlap: int = 8,
    dim: int = 16,
) -> DataFrame:
    """The full pipeline: chunk + hash-embed the corpus, build the
    trained IVF index over the chunk vectors, then query it with the
    FIRST chunk of documents 0..n_probe_docs-1 (self-matches
    excluded) — top-``k`` nearest chunks per probe.

    n_chunks is counted once (a scalar aggregate over the narrow
    chunk frame — the sizing collect every auto-sized lane performs);
    the chunk vectors feed both the index build and the probe filter
    from the same frame."""
    from build_datawarehouse_demo_spark.operators.similarity import (
        ivf_topk_assigned,
    )

    from build_datawarehouse_demo_spark.operators.dedup import spread

    # spread + materialize the embedded chunks ONCE: the narrow chunk
    # projection inherits the document scan's splits (a single-file
    # corpus arrives as 1-2 — the r10 pre-fix 8x leg ran the embed +
    # quantizer chain at ~3-core parallelism), and every downstream
    # stage (training sample, assignment, probes) would otherwise
    # RE-DERIVE the embedding pass. A production pipeline persists the
    # embedded corpus at exactly this boundary (swap the checkpoint
    # for a parquet write at scale — the training_data.py discipline).
    # r20: spread the input docs so the embed amplification runs at
    # full parallelism (see rag_index_build_persisted note)
    chunk_vecs = materialize(hash_embed_chunks(
        spread(docs), chunk_size=chunk_size, overlap=overlap, dim=dim
    ))
    n_chunks = chunk_vecs.count()
    assigned, cents = build_rag_index(chunk_vecs, n_chunks)
    probes = chunk_vecs.filter(
        (F.col("vec_id") % CHUNK_UID_STRIDE == 0)
        & (F.col("vec_id") < n_probe_docs * CHUNK_UID_STRIDE)
    ).select(F.col("vec_id").alias("probe_id"), "embedding")
    return ivf_topk_assigned(assigned, cents, probes, k=k, nprobe=nprobe)
