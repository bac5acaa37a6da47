"""Deduplication keys (``dedup_*``): exact, MinHash/LSH, SimHash,
n-gram Jaccard/containment, embedding and semantic (SemDeDup)
near-duplicates, connected-component clustering with the min-id,
keep-best and soft keep policies, URL canonicalization and substring
spans. Banding and width pins come from the same auto-sizing
functions the operators call, evaluated at the driver fixture's
counts.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.operators.similarity import (
    lsh_auto_params,
    rp_planes,
)
from build_datawarehouse_demo_spark.registry import register
from build_datawarehouse_demo_spark.registry_common import (
    _cos_sql,
    _driver_old_subset_count,
    IVF_GPROBE,
    ivf_trained_with_block,
    _jaccard_verify_sql,
    _MB,
    _minhash_cand_sql,
    _MR,
    _N_EMB,
    _plane_bits_sql,
    _reach_sql,
    _shingles_sql,
    _SIMHASH_PACK,
    _simhash_sig_sql,
    _simhash_sigs_sql,
    _simhash_votes_sql,
    _SPAN_W,
    _SW,
    _t,
    _TOK,
    _two_level_sql,
)


# ------------------------------------------------------------------
# deduplication
# ------------------------------------------------------------------

@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from build_datawarehouse_demo_spark.operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOK} AS w FROM documents
    ),
    {_shingles_sql()},
    {_minhash_cand_sql(16, 4)},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS DOUBLE) / (na.n + nb.n - i.n_inter) AS jaccard
    FROM inter i
    {_jaccard_verify_sql()}
    """,
)
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from build_datawarehouse_demo_spark.operators.dedup import minhash_dedup_pairs

    return minhash_dedup_pairs(
        _t(spark, sf_dir, "documents"), k=3, num_hashes=16, bands=4, threshold=0.8
    )


@register(
    "dedup_simhash",
    oracle=f"""
    WITH {_simhash_votes_sql()}
    SELECT doc_id,
           {_SIMHASH_PACK}
    FROM votes GROUP BY doc_id
    """,
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from build_datawarehouse_demo_spark.operators.dedup import simhash

    return simhash(_t(spark, sf_dir, "documents"))


# simhash signature + pigeonhole-blocked pair CTEs, shared by the
# pair entry and the connected-components clustering entry.
_simhash_pair_ctes = f"""
    {_simhash_sigs_sql()},
    blocked AS (
      SELECT doc_id, simhash, blk, (simhash >> (blk * 8)) & 255 AS blk_val
      FROM sigs, unnest(generate_series(0, 3)) AS g(blk)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      FROM blocked a
      JOIN blocked b ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    )"""


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_simhash_pair_ctes}
    SELECT id_a, id_b, hamming FROM pairs
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from build_datawarehouse_demo_spark.operators.dedup import simhash, simhash_near_pairs

    sigs = simhash(_t(spark, sf_dir, "documents"))
    return simhash_near_pairs(sigs, max_hamming=3, blocks=4)


@register(
    "dedup_cluster_components",
    oracle=f"""
    WITH RECURSIVE {_simhash_pair_ctes},
    {_reach_sql()},
    comp AS (SELECT s AS node, least(s, min(d)) AS component FROM reach GROUP BY s)
    SELECT doc.doc_id,
           COALESCE(c.component, doc.doc_id) AS component_id,
           COALESCE(c.component, doc.doc_id) = doc.doc_id AS is_kept
    FROM documents doc LEFT JOIN comp c ON c.node = doc.doc_id
    """,
)
def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pair graph -> connected components -> one kept representative
    # per near-dup cluster. Large-star/small-star contraction
    # (VERDICT round 2 item 8: O(log n) rounds vs min-label
    # propagation's graph-diameter rounds — measured 4 vs 8 rounds
    # and 2.9s vs 5.9s on this very pair graph at sf0.01, and a
    # 1000-node chain converges in 8 star rounds where propagation
    # exhausts 50; both variants tested equivalent in
    # tests/test_dedup.py). The oracle states the same labeling as
    # a recursive transitive closure. The step pairwise dedup
    # logic cannot do correctly: (a,b),(b,c) must keep exactly one
    # of {a,b,c}.
    from build_datawarehouse_demo_spark.operators.dedup import (
        connected_components_star,
        dedup_keep_representatives,
        simhash,
        simhash_near_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_near_pairs(simhash(docs), max_hamming=3, blocks=4)
    comp = connected_components_star(pairs)
    return dedup_keep_representatives(docs, comp).select(
        "doc_id", "component_id", "is_kept"
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, lang, source, tok
      FROM documents, unnest({_TOK}) AS t(tok)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM tok a
      JOIN tok b ON a.lang = b.lang AND a.source = b.source AND a.tok = b.tok
                AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS DOUBLE) / (na.n + nb.n - i.n_inter) AS jaccard
    FROM inter i
    {_jaccard_verify_sql(0.9)}
    """,
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from build_datawarehouse_demo_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), block_cols=("lang", "source"), threshold=0.9
    )


# banded RP-LSH near-dup: the oracle replicates the EXACT bucketing
# (same md5-derived planes, same band slicing, same bit weights), so
# Spark and DuckDB agree bit-for-bit on the approximate result —
# candidate recall is a documented property of the operator, not
# drift (operators/similarity.py:embedding_near_dup_pairs_bucketed;
# recall vs the exact all-pairs verifier is asserted in
# tests/test_similarity.py).
_ND_BANDS, _ND_R, _ND_DIM = 8, 8, 64
_nd_planes = rp_planes(_ND_BANDS * _ND_R, _ND_DIM)


def _band_sigs_sql(planes, rows: int) -> str:
    """Per-band RP signatures of ``v`` (``rows`` planes per band) as a
    comma list, band order."""
    return ", ".join(
        f"CAST({_plane_bits_sql(planes[b * rows : (b + 1) * rows])} AS INTEGER)"
        for b in range(len(planes) // rows)
    )


_nd_sigs_sql = _band_sigs_sql(_nd_planes, _ND_R)


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sig AS (SELECT vec_id, v, [{_nd_sigs_sql}] AS sigs FROM e),
    bands AS (
      SELECT vec_id, i AS band, sigs[i + 1] AS sig
      FROM sig, unnest(generate_series(0, {_ND_BANDS - 1})) AS g(i)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           round({_cos_sql("ea.v", "eb.v")}, 6) AS cosine
    FROM cand c
    JOIN e ea ON ea.vec_id = c.id_a
    JOIN e eb ON eb.vec_id = c.id_b
    WHERE {_cos_sql("ea.v", "eb.v")} >= 0.4
    """,
)
def q_embed_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-CORPUS-ONLY (kept for oracle continuity, demoted from
    the bench HEADLINE in round 7): this entry pins a FIXED 8x8
    LSH signature, and fixed parameters are a measured
    scale-killer — once n >> 2^r * bucket_size every bucket
    saturates and candidates grow ~n^2 (measured exponent 2.09 at
    sf1→sf4, 227.8s at sf4; BENCH_SCALE_r06_sf1_sf4.json). Use
    `dedup_embedding_cosine_auto` (bands=None, rows_per_band=None →
    lsh_auto_params corpus-sized signatures, measured exponent
    ~0.9) for anything beyond a few thousand vectors."""
    from build_datawarehouse_demo_spark.operators.similarity import (
        embedding_near_dup_pairs_bucketed,
    )

    return embedding_near_dup_pairs_bucketed(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.4,
        bands=_ND_BANDS,
        rows_per_band=_ND_R,
        dim=_ND_DIM,
    )


@register(
    "dedup_incremental_new_docs",
    oracle="""
    WITH seen AS (
      SELECT DISTINCT md5(text) AS digest FROM documents
      WHERE doc_id % 3 <> 0
    ),
    batch AS (
      SELECT doc_id, md5(text) AS digest FROM documents
      WHERE doc_id % 3 = 0
    )
    SELECT b.doc_id, b.digest FROM batch b
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.digest = b.digest)
    """,
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: a new batch keeps only docs whose
    content digest is unseen in the corpus — LEFT ANTI join on the
    16-byte digest, never the payload. The per-batch form of
    dedup_exact that a continuous pipeline actually runs (at
    100 TB the seen-set is a bucketed digest table; the anti join
    stays digest-only either way)."""
    docs = _t(spark, sf_dir, "documents", rebalance=False)
    seen = (
        docs.where(F.col("doc_id") % 3 != 0)
        .select(F.md5("text").alias("digest"))
        .distinct()
    )
    batch = docs.where(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.md5("text").alias("digest")
    )
    return batch.join(seen, "digest", "left_anti").select("doc_id", "digest")


# Auto-scaled RP-LSH near-dup entry — the scale fix for the
# quadratic candidate growth BENCH_SCALE_r06_sf1_sf4.json exposed in
# the fixed-parameter dedup_embedding_cosine (exponent 2.09).

# the oracle replicates the EXACT bucketing lsh_auto_params picks for
# the driver fixture's embeddings count (a hard-coded 500 would
# silently diverge impl vs oracle if the fixture row count changed)
_A_BANDS, _A_R = lsh_auto_params(_N_EMB)
_a_planes = rp_planes(_A_BANDS * _A_R, 64)


_a_sigs_sql = _band_sigs_sql(_a_planes, _A_R)


@register(
    "dedup_embedding_cosine_auto",
    oracle=f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    sig AS (SELECT vec_id, v, [{_a_sigs_sql}] AS sigs FROM e),
    bands AS (
      SELECT vec_id, i AS band, sigs[i + 1] AS sig
      FROM sig, unnest(generate_series(0, {_A_BANDS - 1})) AS g(i)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id
    )
    SELECT c.id_a, c.id_b,
           round({_cos_sql("ea.v", "eb.v")}, 6) AS cosine
    FROM cand c
    JOIN e ea ON ea.vec_id = c.id_a
    JOIN e eb ON eb.vec_id = c.id_b
    WHERE {_cos_sql("ea.v", "eb.v")} >= 0.4
    """,
)
def q_embed_dup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as dedup_embedding_cosine but the LSH
    signature auto-sizes with the corpus (lsh_auto_params):
    rows_per_band grows log2(n) so buckets stay ~32 deep and
    candidates stay LINEAR in n; bands grow to hold recall >= 0.93
    at the 0.9-cosine operating point. At the driver's sf0.01 the
    parameters resolve to the oracle's pinned (bands, r)."""
    from build_datawarehouse_demo_spark.operators.similarity import (
        embedding_near_dup_pairs_bucketed,
    )

    return embedding_near_dup_pairs_bucketed(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.4,
        bands=None,
        rows_per_band=None,
        dim=64,
    )


# ------------------------------------------------------------------
# URL canonicalization dedup — the normalization every web-corpus
# pipeline runs before exact URL dedup (case, default ports,
# trailing slashes, tracking params, param order, fragments).
# URLs are synthesized deterministically from documents so both
# engines derive identical raw inputs.
# ------------------------------------------------------------------
_RAW_URL_SQL = """
      'HTTPS://' || CASE WHEN doc_id % 6 = 0 THEN 'alice:pw@' ELSE '' END
      || CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END
      || '.Example.COM'
      || CASE doc_id % 4 WHEN 0 THEN ':443' WHEN 1 THEN ':8080' ELSE '' END
      || CASE WHEN doc_id % 9 = 0 THEN '/Docs%2fx' ELSE '/Docs' END
      || '/' || CAST(doc_id % 50 AS STRING)
      || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
      || CASE doc_id % 5 WHEN 0 THEN '?utm_source=tw&b=2&a=1'
                         WHEN 1 THEN '?a=1&b=2' ELSE '' END
      || CASE WHEN doc_id % 7 = 0 THEN '#sec2' ELSE '' END
"""


@register(
    "dedup_url_canonical",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, {_RAW_URL_SQL} AS url FROM documents
    ),
    parts AS (
      SELECT doc_id, url,
        lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS proto,
        -- userinfo stripped before host/port extraction (r8)
        regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)', 1), '^[^@]*@', '') AS hp,
        -- fixture injects exactly the '%2f' escape; uppercase it
        -- (general law pinned by the percent_normalize pytest)
        replace(regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)', 1), '/+$', ''), '%2f', '%2F') AS path,
        coalesce(array_to_string(list_sort(list_filter(
          string_split(coalesce(regexp_extract(url, '\\?([^#]*)', 1), ''), '&'),
          x -> x <> '' AND NOT starts_with(x, 'utm_')
               AND NOT starts_with(x, 'fbclid=')
               AND NOT starts_with(x, 'gclid=')
               AND NOT starts_with(x, 'msclkid='))), '&'), '') AS qs
      FROM raw
    ),
    canon AS (
      SELECT doc_id, url,
        proto || '://'
        || lower(regexp_extract(hp, '^([^:]*)', 1))
        || CASE WHEN coalesce(regexp_extract(hp, ':([0-9]+)$', 1), '') IN ('', '443') THEN ''
                ELSE ':' || coalesce(regexp_extract(hp, ':([0-9]+)$', 1), '') END
        || path
        || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS curl
      FROM parts
    )
    SELECT curl AS canonical_url,
           count(*) AS n_docs,
           count(DISTINCT url) AS n_variants,
           CAST(min(doc_id) AS BIGINT) AS first_doc_id
    FROM canon GROUP BY curl
    """,
)
def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize-then-dedup over deterministic raw URLs: mixed
    scheme/host case, default port 443 vs explicit 8080, trailing
    slashes, utm tracking params with shuffled order, fragments —
    grouped by the canonical form
    (functions/strings.py:canonicalize_url) with variant counts.
    The oracle replicates every normalization step with the same
    regexes + list ops. Scale shape: narrow scalar expressions +
    one hash agg on the canonical key."""
    from build_datawarehouse_demo_spark.functions.strings import (
        canonicalize_url,
    )

    docs = _t(spark, sf_dir, "documents", rebalance=False)
    raw = docs.select("doc_id", F.expr(_RAW_URL_SQL.strip()).alias("url"))
    return (
        raw.withColumn("canonical_url", canonicalize_url(F.col("url")))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("url").alias("n_variants"),
            F.min("doc_id").cast("bigint").alias("first_doc_id"),
        )
    )


# ------------------------------------------------------------------
# auto-sized text MinHash LSH — the round-6 embedding-lane fix
# applied to the TEXT lane before it bites: fixed rows-per-band
# makes background candidates grow bands*n^2*j_bg^r (measured 6.8x
# candidates at 4x docs with the fixed 16/4 default); rows grow
# log(n) so they stay linear, bands hold recall
# ------------------------------------------------------------------
_MNH = _MB * _MR


@register(
    "dedup_minhash_lsh_auto",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {_TOK} AS w FROM documents
    ),
    {_shingles_sql()},
    {_minhash_cand_sql(_MNH, _MR)},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS n_inter
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS DOUBLE) / (na.n + nb.n - i.n_inter) AS jaccard
    FROM inter i
    {_jaccard_verify_sql()}
    """,
)
def q_minhash_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as dedup_minhash_lsh but (bands, rows) come
    from minhash_auto_params at the corpus count — rows_per_band
    grows ln(n)/ln(1/j_bg) so background candidates stay LINEAR,
    bands re-solve recall >= 0.93 at the 0.8-Jaccard operating
    point. At the driver fixture's n the parameters resolve to the
    oracle's pinned (bands, rows)."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        minhash_dedup_pairs,
    )

    return minhash_dedup_pairs(
        _t(spark, sf_dir, "documents"), num_hashes=None, bands=None
    )


# ------------------------------------------------------------------
# auto-sized SimHash blocking — THIRD instance of the fixed-bucket
# -space trap (r6: embedding sign-LSH; r7: text MinHash): 4 blocks
# of 8 bits = 256 buckets/block saturate once n >> 256*occupancy,
# candidates grow blocks*n^2/2^w. Block width now grows log2(n).
# ------------------------------------------------------------------
@register(
    "dedup_simhash_auto",
    oracle=f"""
    WITH {_simhash_sig_sql()},
    blocked AS (
      SELECT doc_id, simhash, blk,
             (simhash >> (blk * {_SW})) & {(1 << _SW) - 1} AS blk_val
      FROM sigs, unnest(generate_series(0, 3)) AS g(blk)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM blocked a
    JOIN blocked b ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def q_simhash_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same semantics as dedup_simhash_pairs but the signature
    width auto-sizes: per-block bits = simhash_auto_width(n) keep
    bucket occupancy ~64 so candidates stay LINEAR; widths past 32
    bits draw from the 60-bit md5 hash (hash60). At the driver
    fixture's n the width resolves to the oracle's pinned value."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        simhash,
        simhash_auto_width,
        simhash_near_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    w = simhash_auto_width(docs.count())
    sigs = simhash(docs, bits=4 * w)
    return simhash_near_pairs(sigs, max_hamming=3, blocks=4, bits=4 * w)


# ------------------------------------------------------------------
# exact substring-duplication spans (Lee et al. 2022): the
# within-document dedup the whole-doc family can't see —
# boilerplate/licence/quotation spans recurring across otherwise
# unique documents, with token positions for span removal
# ------------------------------------------------------------------
@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(i AS INTEGER) AS pos,
             md5(array_to_string(t[i:i+{_SPAN_W - 1}], ' ')) AS gram_md5
      FROM toks, unnest(generate_series(1, len(t) - {_SPAN_W - 1})) AS s(i)
      WHERE len(t) >= {_SPAN_W}
    ),
    dup AS (
      SELECT gram_md5, count(DISTINCT doc_id) AS n_docs
      FROM grams GROUP BY gram_md5 HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT g.doc_id, g.pos, g.gram_md5, dup.n_docs
    FROM grams g JOIN dup USING (gram_md5)
    """,
)
def q_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every {_SPAN_W}-token window recurring in >= 2 distinct docs,
    with its 1-based token position (duplicate_substring_spans).
    Tokenization is a verbatim single-space split on BOTH sides —
    positions are raw offsets, so no normalization may shift them.
    Scale: two digest-keyed exchanges; documents never shuffle."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        duplicate_substring_spans,
    )

    return duplicate_substring_spans(
        _t(spark, sf_dir, "documents"), window=_SPAN_W, min_docs=2
    )


@register(
    "dedup_doc_duplication_rate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id,
             md5(array_to_string(t[i:i+{_SPAN_W - 1}], ' ')) AS gram_md5
      FROM toks, unnest(generate_series(1, len(t) - {_SPAN_W - 1})) AS s(i)
      WHERE len(t) >= {_SPAN_W}
    ),
    dup AS (
      SELECT gram_md5 FROM grams
      GROUP BY gram_md5 HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(count(d.gram_md5) AS BIGINT) AS n_dup_windows,
           round(count(d.gram_md5) * 1.0 / count(*), 6) AS dup_rate
    FROM grams g LEFT JOIN dup d USING (gram_md5)
    GROUP BY g.doc_id
    """,
)
def q_doc_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level duplication score (fraction of {_SPAN_W}-token windows
    recurring in >= 2 docs) — the filtering lever built on the
    span op: documents past a duplication threshold get dropped
    or downweighted in corpus mixing."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        document_duplication_rate,
    )

    return document_duplication_rate(
        _t(spark, sf_dir, "documents"), window=_SPAN_W, min_docs=2
    )


# ------------------------------------------------------------------
# the scale-gate catch of r8: the SimHash PAIRS shape is
# output-bound — identical signatures (Hamming 0) make a duplicate
# cluster of k docs emit k(k-1)/2 pairs, and on clustered corpora
# the OUTPUT grows ~quadratically (sf1→sf4: top cluster 3.5k→13k
# docs, measured exponent 1.785 with zero algorithmic waste). The
# scalable shape is collapse + representative-level pairs.
# ------------------------------------------------------------------
_SIG_SQL = _simhash_sig_sql()


@register(
    "dedup_simhash_collapse",
    oracle=f"""
    WITH {_SIG_SQL}
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY simhash) AS canonical_id,
           count(*) OVER (PARTITION BY simhash) AS cluster_size
    FROM sigs
    """,
)
def q_simhash_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius-0 SimHash dedup at the auto width: every doc mapped
    to its exact-signature cluster's min-id canonical + cluster
    size — LINEAR however clustered the corpus (one exchange on
    the signature). The pairs lane this replaces in the headline
    is output-quadratic on clustered data (see
    operators/dedup.py:simhash_collapse)."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        simhash,
        simhash_auto_width,
        simhash_collapse,
    )

    docs = _t(spark, sf_dir, "documents")
    w = simhash_auto_width(docs.count())
    return simhash_collapse(simhash(docs, bits=4 * w))


@register(
    "dedup_simhash_rep_pairs",
    oracle=f"""
    WITH {_SIG_SQL},
    reps AS (
      SELECT simhash, min(doc_id) AS doc_id FROM sigs GROUP BY simhash
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM reps a JOIN reps b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def q_simhash_rep_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near pairs (Hamming <= 3) between cluster REPRESENTATIVES —
    one per distinct signature — via pigeonhole blocking:
    candidates scale with distinct signatures, not docs. The
    oracle is the brute representative cross (EXACTLY equivalent:
    pigeonhole with blocks > max_hamming misses nothing, so
    blocked+filter == brute filter)."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        simhash,
        simhash_auto_width,
        simhash_rep_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    w = simhash_auto_width(docs.count())
    return simhash_rep_pairs(
        simhash(docs, bits=4 * w), max_hamming=3, blocks=4, bits=4 * w
    )


# ------------------------------------------------------------------
# the fully-scalable SimHash dedup composition: collapse (linear)
# -> representative near-pairs -> connected components over the
# REP graph -> every doc to its final canonical. The scalable twin
# of dedup_cluster_components, whose pair graph is doc-level.
# ------------------------------------------------------------------
@register(
    "dedup_simhash_components_scalable",
    oracle=f"""
    WITH RECURSIVE {_simhash_sig_sql()},
    reps AS (
      SELECT simhash, min(doc_id) AS rep_id FROM sigs GROUP BY simhash
    ),
    rpairs AS (
      SELECT a.rep_id AS id_a, b.rep_id AS id_b
      FROM reps a JOIN reps b ON a.rep_id < b.rep_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    {_reach_sql("rpairs")},
    comp AS (SELECT s AS node, least(s, min(d)) AS component FROM reach GROUP BY s)
    SELECT sg.doc_id,
           COALESCE(c.component, r.rep_id) AS canonical_id
    FROM sigs sg
    JOIN reps r ON r.simhash = sg.simhash
    LEFT JOIN comp c ON c.node = r.rep_id
    """,
)
def q_simhash_components_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end scalable SimHash dedup: exact-signature collapse
    (linear), near-pairs between distinct-signature
    REPRESENTATIVES only, large-star/small-star components over
    the rep graph (O(log n) rounds, node count = distinct sigs),
    then every doc resolves through its signature's rep to the
    component canonical. Identical final clustering to the
    doc-level dedup_cluster_components on any corpus (two docs
    with the same signature are Hamming-0 neighbors, so
    collapsing them first never changes components) at a fraction
    of the pair volume on clustered corpora."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        connected_components_star,
        simhash,
        simhash_auto_width,
        simhash_rep_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    w = simhash_auto_width(docs.count())
    sigs = simhash(docs, bits=4 * w)
    reps = sigs.groupBy("simhash").agg(F.min("doc_id").alias("rep_id"))
    pairs = simhash_rep_pairs(sigs, max_hamming=3, blocks=4, bits=4 * w)
    comp = connected_components_star(pairs)
    return (
        sigs.join(reps, "simhash")
        .join(comp, F.col("rep_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("rep_id")).alias("canonical_id"),
        )
    )


# ------------------------------------------------------------------
# four published training-data operators the registry lacked:
# SemDeDup (semantic dedup over the trained coarse quantizer),
# DSIR importance resampling, CCNet perplexity bucketing, and
# containment near-dup pairs. Each oracle restates the WHOLE
# computation in DuckDB (training runs included), per the r7 IVF
# discipline.
# ------------------------------------------------------------------
#: SemDeDup eps at the fixture's operating point: max pairwise cosine in
#: the driver embeddings is 0.513, p99 0.289, so 0.3 prunes a real (small)
#: fraction; production corpora tune eps per SemDeDup sec. 4
_SD_EPS = 0.3


@register(
    "dedup_semantic_semdedup",
    oracle=f"""
    {ivf_trained_with_block()},
    asg AS (
      SELECT l.vec_id, l.cid, l.v,
             round({_cos_sql("l.v", "c.cv")}, 6) AS cent_sim
      FROM lists l JOIN c2 c ON c.cid = l.cid
    ),
    rk AS (
      SELECT vec_id, cid, v, cent_sim,
             row_number() OVER (PARTITION BY cid
                 ORDER BY cent_sim, vec_id) AS rk
      FROM asg
    ),
    cov AS (
      SELECT DISTINCT b.vec_id
      FROM rk a JOIN rk b ON a.cid = b.cid AND a.rk < b.rk
      WHERE round({_cos_sql("a.v", "b.v")}, 6) >= {_SD_EPS}
    )
    SELECT r.vec_id, r.cid AS centroid_id, r.cent_sim,
           (c.vec_id IS NULL) AS kept
    FROM rk r LEFT JOIN cov c ON c.vec_id = r.vec_id
    """,
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) end to end:
    the SAME linearized quantizer chain as sim_ivf_trained (sampled
    Lloyd training, super-centroid grouping, two-level assignment —
    so the oracle reuses ivf_trained_with_block verbatim), then the
    paper's prune rule per cluster: order by similarity-to-centroid
    ascending (keep the far-from-centroid representative), drop
    anything with cosine >= eps to an earlier member
    (operators/similarity.py:semdedup_prune). Output is the full
    per-vector verdict (kept boolean), not just survivors, so the
    hash also pins what was REMOVED."""
    from build_datawarehouse_demo_spark.operators.similarity import (
        ivf_assign_two_level,
        ivf_group_centroids,
        ivf_train_sampled,
        semdedup_prune,
    )

    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    nlist = max(2, math.ceil(math.sqrt(n)))
    seeds = emb.filter(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cents = ivf_train_sampled(emb, seeds, n=n, nlist=nlist, n_iter=2, round_to=6)
    ngroups = max(1, math.ceil(math.sqrt(nlist)))
    sup, groups = ivf_group_centroids(cents, n_groups=ngroups, n_iter=1, round_to=6)
    assigned = ivf_assign_two_level(emb, cents, sup, groups, gprobe=IVF_GPROBE)
    return semdedup_prune(assigned, cents, eps=_SD_EPS)


# ------------------------------------------------------------------
# incremental SemDeDup (r10 theme applied to the semantic lane):
# fold a new vector batch into an existing run — frozen quantizer,
# stored verdicts never flip (append-only priority: every stored
# member outranks every new one; new members keep the paper's
# order among themselves). The oracle restates the WHOLE two-phase
# rule: trains the quantizer on the OLD subset only (the
# parameterized ivf_trained_with_block), assigns BOTH subsets with
# it, and re-derives the stored-covers-new ∪ earlier-new-covers-new
# prune set.
# ------------------------------------------------------------------
_EMB_SPLIT = (3 * _N_EMB) // 4
_N_EMB_OLD = _driver_old_subset_count(_EMB_SPLIT, "embeddings", "vec_id")


@register(
    "dedup_semdedup_incremental",
    oracle=f"""
    {ivf_trained_with_block(f"vec_id < {_EMB_SPLIT}", _N_EMB_OLD)},
    en AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE vec_id >= {_EMB_SPLIT}
    ),
    {_two_level_sql("en e", "route_n", "lists_n")},
    rk AS (
      SELECT l.vec_id, l.cid, l.v,
             round({_cos_sql("l.v", "c.cv")}, 6) AS cent_sim,
             row_number() OVER (PARTITION BY l.cid
                 ORDER BY round({_cos_sql("l.v", "c.cv")}, 6), l.vec_id) AS rk
      FROM lists_n l JOIN c2 c ON c.cid = l.cid
    ),
    cov AS (
      SELECT b.vec_id
      FROM lists a JOIN rk b ON a.cid = b.cid
      WHERE round({_cos_sql("a.v", "b.v")}, 6) >= {_SD_EPS}
      UNION
      SELECT b.vec_id
      FROM rk a JOIN rk b ON a.cid = b.cid AND a.rk < b.rk
      WHERE round({_cos_sql("a.v", "b.v")}, 6) >= {_SD_EPS}
    )
    SELECT r.vec_id, r.cid AS centroid_id, r.cent_sim,
           (c.vec_id IS NULL) AS kept
    FROM rk r LEFT JOIN cov c ON c.vec_id = r.vec_id
    """,
)
def q_semdedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SemDeDup over a 75/25 vec_id split: quantizer
    trained on the OLD subset only, both subsets assigned with the
    frozen two-level quantizer, then the new batch pruned under
    append-only priority (stored members cover new ones regardless
    of rank; new members follow the paper's order among
    themselves — operators/similarity.py:semdedup_prune_incremental,
    which documents why exact rebuild-parity is structurally
    impossible for an append-only SemDeDup)."""
    from build_datawarehouse_demo_spark.operators.similarity import (
        ivf_assign_two_level,
        ivf_group_centroids,
        ivf_train_sampled,
        semdedup_prune_incremental,
    )

    emb = _t(spark, sf_dir, "embeddings")
    old = emb.filter(F.col("vec_id") < _EMB_SPLIT)
    new = emb.filter(F.col("vec_id") >= _EMB_SPLIT)
    n_old = old.count()
    nlist = max(2, math.ceil(math.sqrt(n_old)))
    seeds = old.filter(F.col("vec_id") < nlist).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    cents = ivf_train_sampled(
        old, seeds, n=n_old, nlist=nlist, n_iter=2, round_to=6
    )
    ngroups = max(1, math.ceil(math.sqrt(nlist)))
    sup, groups = ivf_group_centroids(
        cents, n_groups=ngroups, n_iter=1, round_to=6
    )
    assigned_old = ivf_assign_two_level(
        old, cents, sup, groups, gprobe=IVF_GPROBE
    )
    assigned_new = ivf_assign_two_level(
        new, cents, sup, groups, gprobe=IVF_GPROBE
    )
    return semdedup_prune_incremental(
        assigned_new, assigned_old, cents, eps=_SD_EPS
    )


@register(
    "dedup_ngram_containment",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT doc_id, lang, source, tok
      FROM documents, unnest({_TOK}) AS t(tok)
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      FROM tok a
      JOIN tok b ON a.lang = b.lang AND a.source = b.source AND a.tok = b.tok
                AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS DOUBLE) / least(na.n, nb.n) AS containment
    FROM inter i
    JOIN sizes na ON na.doc_id = i.id_a
    JOIN sizes nb ON nb.doc_id = i.id_b
    WHERE CAST(i.n_inter AS DOUBLE) / least(na.n, nb.n) >= 0.8
    """,
)
def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (Broder 1997): catches the
    subset-shaped duplication Jaccard structurally misses — same
    (lang, source)-blocked self-join shape as dedup_ngram_jaccard
    (operators/dedup.py:ngram_containment_pairs); integer/integer
    division so no rounding step."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    return ngram_containment_pairs(
        _t(spark, sf_dir, "documents"),
        block_cols=("lang", "source"),
        threshold=0.8,
    )


# ------------------------------------------------------------------
# quality-aware dedup keep (r17): the Dolma/FineWeb "keep the
# preferred copy" policy — the component survivor is the member
# maximizing (n_chars, then smallest id), not the min id. Same
# simhash pair graph as dedup_cluster_components, so the two keys
# differ ONLY in the keep rule and the oracle pins exactly that.
# ------------------------------------------------------------------
pair_ctes = f"""
    {_simhash_sigs_sql()},
    blocked AS (
      SELECT doc_id, simhash, blk, (simhash >> (blk * 8)) & 255 AS blk_val
      FROM sigs, unnest(generate_series(0, 3)) AS g(blk)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM blocked a
      JOIN blocked b ON a.blk = b.blk AND a.blk_val = b.blk_val AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    )"""


@register(
    "dedup_cluster_keep_best",
    oracle=f"""
    WITH RECURSIVE {pair_ctes},
    {_reach_sql()},
    comp AS (SELECT s AS node, least(s, min(d)) AS component FROM reach GROUP BY s),
    memb AS (
      SELECT doc.doc_id, doc.n_chars,
             COALESCE(c.component, doc.doc_id) AS component_id
      FROM documents doc LEFT JOIN comp c ON c.node = doc.doc_id
    ),
    keep AS (
      SELECT component_id, doc_id AS keep_id FROM (
        SELECT component_id, doc_id,
               row_number() OVER (PARTITION BY component_id
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM memb) WHERE rn = 1
    )
    SELECT m.doc_id, m.component_id, m.doc_id = k.keep_id AS is_kept
    FROM memb m JOIN keep k ON k.component_id = m.component_id
    """,
)
def q_dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering with a QUALITY-AWARE keep rule
    (operators/dedup.dedup_keep_best): same simhash pair graph and
    star components as dedup_cluster_components, but each cluster
    keeps its LONGEST member (n_chars, id tiebreak) — the
    Dolma/FineWeb keep-the-preferred-copy policy (longest copy,
    highest source priority, best quality score all plug into the
    same rank_col seam). The argmax is one map-side max_by over
    slim (component, rank, id) rows; documents never shuffle. The
    oracle restates the keep rule as a row_number window over the
    recursive-CTE components."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        connected_components_star,
        dedup_keep_best,
        simhash,
        simhash_near_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_near_pairs(simhash(docs), max_hamming=3, blocks=4)
    comp = connected_components_star(pairs)
    return dedup_keep_best(docs, comp, rank_col="n_chars").select(
        "doc_id", "component_id", "is_kept"
    )


# ------------------------------------------------------------------
# soft dedup (r17): the drop-free dedup policy — keep every
# near-duplicate, weight each row 1/|component| so a duplicate
# CLASS contributes one unit of loss mass (SoftDeDup-style
# reweighting). Same simhash pair graph as the cluster keys.
# ------------------------------------------------------------------
@register(
    "dedup_soft_weights",
    oracle=f"""
    WITH RECURSIVE {pair_ctes},
    {_reach_sql()},
    comp AS (SELECT s AS node, least(s, min(d)) AS component FROM reach GROUP BY s),
    memb AS (
      SELECT doc.doc_id,
             COALESCE(c.component, doc.doc_id) AS component_id
      FROM documents doc LEFT JOIN comp c ON c.node = doc.doc_id
    ),
    sizes AS (
      SELECT component_id, CAST(count(*) AS BIGINT) AS n_members
      FROM memb GROUP BY component_id
    )
    SELECT m.doc_id, m.component_id, s.n_members,
           round(1.0 / s.n_members, 6) AS weight
    FROM memb m JOIN sizes s ON s.component_id = m.component_id
    """,
)
def q_dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-free near-dup handling
    (operators/dedup.dedup_soft_weights): every document keeps a
    training weight of 1/|near-dup component| — each duplicate
    class contributes one unit of loss mass while its intra-class
    variants stay in the corpus (the SoftDeDup reweighting policy;
    hard dedup is the weight ∈ {0,1} special case). One slim
    (component, count) aggregate joined back; documents never
    shuffle on content."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        connected_components_star,
        dedup_soft_weights,
        simhash,
        simhash_near_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_near_pairs(simhash(docs), max_hamming=3, blocks=4)
    comp = connected_components_star(pairs)
    return dedup_soft_weights(docs, comp).select(
        "doc_id", "component_id", "n_members", "weight"
    )


# ------------------------------------------------------------------
# the COMPOSED curation policy (VERDICT r18 item 5): keep the best
# copy AND down-weight its near-class. Same simhash pair graph and
# star components as dedup_cluster_keep_best, so the key differs
# from its r17 sibling ONLY in the added soft mass — and the oracle
# pins exactly that composition (row_number keep window + the
# 1/|component| weight from the same membership).
# ------------------------------------------------------------------
@register(
    "dedup_cluster_keep_best_soft",
    oracle=f"""
    WITH RECURSIVE {pair_ctes},
    {_reach_sql()},
    comp AS (SELECT s AS node, least(s, min(d)) AS component FROM reach GROUP BY s),
    memb AS (
      SELECT doc.doc_id, doc.n_chars,
             COALESCE(c.component, doc.doc_id) AS component_id
      FROM documents doc LEFT JOIN comp c ON c.node = doc.doc_id
    ),
    per AS (
      SELECT component_id, count(*) AS n_members
      FROM memb GROUP BY component_id
    ),
    keep AS (
      SELECT component_id, doc_id AS keep_id FROM (
        SELECT component_id, doc_id,
               row_number() OVER (PARTITION BY component_id
                                  ORDER BY n_chars DESC, doc_id) AS rn
        FROM memb) WHERE rn = 1
    )
    SELECT m.doc_id, m.component_id, m.doc_id = k.keep_id AS is_kept,
           p.n_members, round(1.0 / p.n_members, 6) AS weight
    FROM memb m
    JOIN keep k ON k.component_id = m.component_id
    JOIN per p ON p.component_id = m.component_id
    """,
)
def q_dedup_cluster_keep_best_soft(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup clustering under the COMPOSED policy
    (operators/dedup.dedup_keep_best_soft, r19): each cluster
    keeps its LONGEST member (n_chars, id tiebreak — the
    dedup_cluster_keep_best rule) AND every row carries the
    cluster's soft mass (weight = 1/|component|), so filtering to
    is_kept yields best-copy survivors down-weighted by how many
    near-copies their content had — boilerplate that mirrored 100
    times trains at 1/100 mass through its single best copy. One
    slim per-component aggregate computes the argmax and the size
    together; documents never shuffle on content. The weight
    column feeds the weight-aware mixers directly."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        connected_components_star,
        dedup_keep_best_soft,
        simhash,
        simhash_near_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = simhash_near_pairs(simhash(docs), max_hamming=3, blocks=4)
    comp = connected_components_star(pairs)
    return dedup_keep_best_soft(docs, comp, rank_col="n_chars").select(
        "doc_id", "component_id", "is_kept", "n_members", "weight"
    )
