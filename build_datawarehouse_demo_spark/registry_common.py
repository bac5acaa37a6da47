"""Shared registry helpers: the driver-fixture pins and the DuckDB
oracle fragments that more than one family module uses.

Pins are derived from the driver fixture's parquet data on first use
(``_driver_rows`` and friends, through ``_PINS``), never hard-coded row
counts, so an oracle constant cannot drift from the data it is checked
against, and importing this module reads no fixture file. The
fragment builders return CTE text for f-string oracles; each has one
definition here, so an oracle-contract change is made once.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.operators.dedup import minhash_auto_params, simhash_auto_width
from build_datawarehouse_demo_spark.operators.text import default_classifier_weights
from build_datawarehouse_demo_spark.plans.rag_index import CHUNK_UID_STRIDE
from build_datawarehouse_demo_spark.sources.readers import read_parquet


# shared DuckDB CTE fragments (tokenization identical to
# operators/text.py:tokens — trim, split on \s+, drop empties)
_TOK = r"list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')"
#: _TOK over the pipelines' ``cleaned`` column
_CTOK = r"list_filter(regexp_split_to_array(trim(cleaned), '\s+'), x -> x <> '')"
_HASH32 = "CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT)"


def _t(
    spark: SparkSession, sf_dir: str, name: str, rebalance: bool = True
) -> DataFrame:
    # rebalance=True for compute-amplifying ops (explode/hash/cosine
    # per row), where a single-row-group source would pin the whole
    # computation to one task (measured: quality_score 4s -> 0.9s).
    # Per-op opt-OUT (VERDICT.md round 2 item 5): ops whose inputs feed
    # broadcast builds or a single narrow pass (scd2, sampling,
    # percentile) would pay a full shuffle that the plan immediately
    # collapses into a BroadcastExchange — gratuitous IO at 100 TB.
    # The parity keys pass rebalance=False too: they are scan/filter/
    # join-shaped, so pushdown to the parquet scan matters more than
    # scan-stage parallelism.
    return read_parquet(spark, f"{sf_dir}/{name}.parquet", rebalance=rebalance)


_BUCKETED_SCRATCH: str | None = None


def _bucketed_scratch_dir() -> str:
    # per-PROCESS scratch (lazy mkdtemp): a fixed shared path would let
    # two concurrent sessions overwrite each other's bucket files
    # mid-join; per-call mkdtemp would leak a table-sized dir on every
    # bench iteration. One dir per process, overwritten in place.
    global _BUCKETED_SCRATCH
    if _BUCKETED_SCRATCH is None:
        import tempfile

        _BUCKETED_SCRATCH = tempfile.mkdtemp(prefix="spark_graft_bucketed_")
    return _BUCKETED_SCRATCH


#: the driver's correctness gate runs queries at this sf_dir — pinned
#: oracle constants must be derived from ITS tables
_DRIVER_SF_DIR = "/root/testdata/sf0.01"


def _driver_rows(table: str, default: int) -> int:
    """Row count of the driver fixture's table from parquet metadata
    (no Spark session needed at import time).

    Only a genuinely ABSENT capability/fixture falls back to the
    pinned default (r7 ADVICE: a bare `except Exception` swallowed
    every error, so a moved fixture silently diverged oracle pins from
    the data and the correctness gate failed far from the cause) —
    and the fallback announces itself."""
    try:
        import pyarrow.dataset as pds

        return pds.dataset(f"{_DRIVER_SF_DIR}/{table}.parquet").count_rows()
    except (ImportError, FileNotFoundError, OSError) as e:
        import warnings

        warnings.warn(
            f"_driver_rows({table!r}): falling back to pinned default "
            f"{default} ({type(e).__name__}: {e}) — oracle constants may "
            "diverge from the fixture",
            stacklevel=2,
        )
        return default


def _cos_sql(a: str, b: str) -> str:
    """Null-guarded cosine, matching operators.similarity.cosine's
    zero-norm -> NULL contract."""
    return (
        f"(CASE WHEN list_dot_product({a},{a}) > 0 AND "
        f"list_dot_product({b},{b}) > 0 "
        f"THEN list_cosine_similarity({a}, {b}) END)"
    )


# ------------------------------------------------------------------
# oracle fragments shared by several families: each returns CTE text
# (no leading WITH, no trailing comma) for an f-string oracle
# ------------------------------------------------------------------
#: packs the per-bit votes of ``votes`` (doc_id, bit, v) into the signature
_SIMHASH_PACK = (
    "CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash"
)


def _simhash_votes_sql(
    src: str = "documents", tok: str = _TOK, bits: int = 32, shash: str = _HASH32
) -> str:
    """SimHash bit votes: ``tok`` (distinct tokens of ``src``), ``hashed``
    and ``votes`` (doc_id, bit, v = sum of +1/-1 over the tokens)."""
    return f"""tok AS (
      SELECT DISTINCT doc_id, tok
      FROM {src}, unnest({tok}) AS t(tok)
    ),
    hashed AS (
      SELECT doc_id, {shash.format(expr="'0:' || tok")} AS h FROM tok
    ),
    votes AS (
      SELECT doc_id, i AS bit,
             sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM hashed, unnest(generate_series(0, {bits - 1})) AS g(i)
      GROUP BY doc_id, i
    )"""


def _simhash_sigs_sql(**kw) -> str:
    """The votes of _simhash_votes_sql(**kw) plus ``sigs`` (doc_id, simhash)."""
    return f"""{_simhash_votes_sql(**kw)},
    sigs AS (
      SELECT doc_id,
             {_SIMHASH_PACK}
      FROM votes GROUP BY doc_id
    )"""


def _shingles_sql(src: str = "tok") -> str:
    """``sh`` (doc_id, shingle): distinct word 3-grams of the token list
    ``w`` in ``src``, as operators.dedup.shingles builds them."""
    return f"""sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM {src}, unnest(generate_series(1, len(w) - 2)) AS t(i)
      WHERE len(w) >= 3
    )"""


def _minhash_cand_sql(num_hashes: int, rows: int, bands: str = "bands") -> str:
    """MinHash over ``sh``: ``mh`` (doc_id, h, mhv), the band keys
    ``bands`` (``rows`` consecutive values joined by string_agg) and
    ``cand`` (id_a < id_b sharing any band key)."""
    return f"""mh AS (
      SELECT doc_id, h,
             min({_HASH32.format(expr="h || ':' || shingle")}) AS mhv
      FROM sh, unnest(generate_series(0, {num_hashes - 1})) AS g(h)
      GROUP BY doc_id, h
    ),
    {bands} AS (
      SELECT doc_id, h // {rows} AS band,
             string_agg(CAST(mhv AS VARCHAR), '_' ORDER BY h) AS band_key
      FROM mh GROUP BY doc_id, h // {rows}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM {bands} a
      JOIN {bands} b ON a.band = b.band AND a.band_key = b.band_key
                  AND a.doc_id < b.doc_id
    )"""


def _jaccard_verify_sql(threshold: float = 0.8) -> str:
    """Joins ``i`` (id_a, id_b, n_inter) to ``sizes`` (doc_id, n) on both
    ids and keeps exact Jaccard >= ``threshold`` (0.8 is the
    minhash_dedup_pairs default)."""
    return f"""JOIN sizes na ON na.doc_id = i.id_a
    JOIN sizes nb ON nb.doc_id = i.id_b
    WHERE CAST(i.n_inter AS DOUBLE) / (na.n + nb.n - i.n_inter) >= {threshold}"""


def _jaccard_pairs_sql() -> str:
    """``sizes`` and ``pairs`` (id_a, id_b): the ``cand`` pairs of
    _minhash_cand_sql whose exact shingle Jaccard clears 0.8."""
    return f"""sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    pairs AS MATERIALIZED (
      SELECT i.id_a, i.id_b
      FROM (
        SELECT c.id_a, c.id_b, count(*) AS n_inter
        FROM cand c
        JOIN sh sa ON sa.doc_id = c.id_a
        JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
        GROUP BY c.id_a, c.id_b
      ) i
      {_jaccard_verify_sql()}
    )"""


def _reach_sql(pairs: str = "pairs") -> str:
    """``edges`` (both directions of ``pairs`` (id_a, id_b)) and
    ``reach`` (s, d), their transitive closure; min(d) per s is the
    component id. Needs WITH RECURSIVE."""
    return f"""edges AS MATERIALIZED (
      SELECT id_a AS s, id_b AS d FROM {pairs}
      UNION SELECT id_b, id_a FROM {pairs}
    ),
    reach(s, d) AS (
      SELECT s, d FROM edges
      UNION SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s
    )"""


def _plane_bits_sql(planes) -> str:
    """Random-projection signature of ``v``: bit i is set when v lies on
    the non-negative side of planes[i] (operators.similarity.rp_planes)."""
    return " + ".join(
        f"(CASE WHEN list_dot_product(v, [{', '.join(str(x) for x in plane)}]) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(planes)
    )


def _topk_sql(k: int = 5, col: str = "cos") -> str:
    """``ranked`` over ``scored`` (probe_id, vec_id, col) and the final
    top-k SELECT (probe_id, vec_id, cosine rounded to 6dp, rank)."""
    return f"""ranked AS (
      SELECT probe_id, vec_id, {col},
             CAST(row_number() OVER (PARTITION BY probe_id ORDER BY {col} DESC, vec_id) AS INTEGER) AS rank
      FROM scored
    )
    SELECT probe_id, vec_id, round({col}, 6) AS cosine, rank
    FROM ranked WHERE rank <= {k}"""


def _two_level_sql(src: str = "e", route: str = "route", lists: str = "lists") -> str:
    """Two-level IVF assignment over ``src`` (vec_id, v): ``route`` sends
    each vector to its IVF_GPROBE nearest super-centroids of ``s1``,
    ``lists`` picks the nearest centroid of ``c2`` among the routed
    groups (``grp``: cid -> gid), as ivf_assign_two_level does."""
    return f"""{route} AS (
      SELECT vec_id, gid, v FROM (
        SELECT e.vec_id, s.cid AS gid, e.v,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {_cos_sql("e.v", "s.cv")} DESC, s.cid) AS rn
        FROM {src}, s1 s
      ) WHERE rn <= {IVF_GPROBE}
    ),
    {lists} AS (
      SELECT vec_id, cid, v FROM (
        SELECT r.vec_id, g.cid, r.v,
               row_number() OVER (PARTITION BY r.vec_id
                   ORDER BY {_cos_sql("r.v", "c.cv")} DESC, g.cid) AS rn
        FROM {route} r JOIN grp g ON g.gid = r.gid JOIN c2 c ON c.cid = g.cid
      ) WHERE rn = 1
    )"""


#: the trained-IVF pins — derived from the SAME functions the impl
#: calls at runtime, never re-derived formulas (r6 ADVICE discipline)
IVF_NPROBE = 4
IVF_GPROBE = 2
_IVF_DIM = 64


def _ivf_pins() -> tuple[int, int, int]:
    from build_datawarehouse_demo_spark.operators.similarity import (
        ivf_sample_modulus,
    )

    n_emb = _driver_rows("embeddings", 500)
    nlist = max(2, math.ceil(math.sqrt(n_emb)))
    sample_k = ivf_sample_modulus(n_emb, nlist)
    ngroups = max(1, math.ceil(math.sqrt(nlist)))
    return nlist, sample_k, ngroups


def _lloyd_sql(prev: str, out: str, corpus: str = "e", dim: int = _IVF_DIM) -> str:
    """One Lloyd iteration in SQL over ``corpus`` (vec_id, v): assign
    every vector to its max-cosine centroid of `prev` (cid, cv),
    re-pack per-dim 6dp-rounded means as the new centroid list `out`."""
    return f"""
    a_{out} AS (
      SELECT vec_id, cid, v FROM (
        SELECT e.vec_id, c.cid, e.v,
               row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY {_cos_sql("e.v", "c.cv")} DESC, c.cid) AS rn
        FROM {corpus} e, {prev} c
      ) WHERE rn = 1
    ),
    {out} AS (
      SELECT cid, list(m ORDER BY dim) AS cv FROM (
        SELECT cid, i AS dim, round(avg(v[i]), 6) AS m
        FROM a_{out}, unnest(generate_series(1, {dim})) AS g(i)
        GROUP BY 1, 2
      ) GROUP BY cid
    )"""


def ivf_trained_with_block(
    corpus_where: str = "TRUE",
    n_corpus: int | None = None,
    source_sql: str = "embeddings",
    seed_where: str | None = None,
    dim: int = _IVF_DIM,
) -> str:
    """The shared WITH block of the LINEARIZED trained-IVF build
    (sampled training -> super-centroid grouping -> two-level
    assignment), ending with the ``lists`` (vec_id, cid, v) and ``c2``
    (centroids) CTEs — reused by sim_ivf_trained (r7/r8), the
    persisted-index entries (r8), and (r10, via ``corpus_where``/
    ``n_corpus``) the incremental-SemDeDup entry, whose quantizer
    trains on the OLD corpus subset only. Defaults reproduce the
    original full-corpus block (WHERE TRUE) with the same pins."""
    if n_corpus is None:
        nlist, sample_k, ngroups = _ivf_pins()
    else:
        from build_datawarehouse_demo_spark.operators.similarity import (
            ivf_sample_modulus,
        )

        nlist = max(2, math.ceil(math.sqrt(n_corpus)))
        sample_k = ivf_sample_modulus(n_corpus, nlist)
        ngroups = max(1, math.ceil(math.sqrt(nlist)))
    if seed_where is None:
        seed_where = f"vec_id < {nlist}"
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM {source_sql}
               WHERE {corpus_where}),
    samp AS (
      SELECT vec_id, v FROM e
      WHERE CAST(('0x' || substr(md5('0:ivftrain:' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
            % {sample_k} = 0
    ),
    c0 AS (SELECT vec_id AS cid, v AS cv FROM e WHERE {seed_where}),
    {_lloyd_sql("c0", "c1", corpus="samp", dim=dim)},
    {_lloyd_sql("c1", "c2", corpus="samp", dim=dim)},
    cc AS (SELECT cid AS vec_id, cv AS v FROM c2),
    s0 AS (SELECT cid, cv FROM c2 ORDER BY cid LIMIT {ngroups}),
    {_lloyd_sql("s0", "s1", corpus="cc", dim=dim)},
    grp AS (
      SELECT cid, gid FROM (
        SELECT c.cid, s.cid AS gid,
               row_number() OVER (PARTITION BY c.cid
                   ORDER BY {_cos_sql("c.cv", "s.cv")} DESC, s.cid) AS rn
        FROM c2 c, s1 s
      ) WHERE rn = 1
    ),
    {_two_level_sql()}"""


#: span length in tokens of the exact-substring span keys
_SPAN_W = 5


def _simhash_sig_sql() -> str:
    """The auto-width SimHash signature CTEs (tok/hashed/votes/sigs,
    ending with ``sigs`` (doc_id, simhash)) at the driver fixture's
    pinned width, shared by every auto-width simhash oracle."""
    return _simhash_sigs_sql(bits=_pin("_SBITS"), shash=_pin("_SHASH"))


def neardup_front_sql() -> str:
    """The pipeline FRONT HALF (clean → langid → quality → filter) as a
    DuckDB CTE block ending with ``kept`` (doc_id, cleaned, n_tokens,
    quality, pred_lang) — shared by the full/incremental chain oracles
    below, pipeline_prepare_training_data and the streaming front-half
    batch-twin oracle."""

    return rf"""base AS (
          SELECT doc_id,
                 lower(trim(regexp_replace(
                   regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
                   '\s+', ' ', 'g'))) AS cleaned,
                 {_TOK} AS w,
                 CAST(len({_TOK}) AS DOUBLE) AS n_tok,
                 CAST(length(text) AS DOUBLE) AS n_chars,
                 CAST(len(list_filter({_TOK},
                      x -> lower(x) IN ('the','a','and','of','to','is'))) AS DOUBLE) AS n_stop,
                 CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS n_punct
          FROM documents
        ),
        qual AS (
          SELECT doc_id, cleaned, w, CAST(n_tok AS BIGINT) AS n_tokens,
                 least(1.0, greatest(0.0,
                   0.4 * (CASE WHEN (CASE WHEN n_tok > 0 THEN (n_chars - (n_tok - 1)) / n_tok ELSE 0.0 END) >= 3
                               AND (CASE WHEN n_tok > 0 THEN (n_chars - (n_tok - 1)) / n_tok ELSE 0.0 END) <= 8
                               THEN 1.0 ELSE 0.0 END)
                   + 0.4 * (CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END) * 4
                   + 0.2 * (1 - (CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END)))) AS quality
          FROM base
        ),
        hits AS (
          SELECT doc_id, 'de' AS lang, len(list_filter(w, x -> lower(x) IN ('der','die','das','und','ist','nicht'))) AS h FROM base
          UNION ALL
          SELECT doc_id, 'en', len(list_filter(w, x -> lower(x) IN ('the','a','and','of','to','is'))) FROM base
          UNION ALL
          SELECT doc_id, 'es', len(list_filter(w, x -> lower(x) IN ('el','la','y','es','los','que'))) FROM base
          UNION ALL
          SELECT doc_id, 'fr', len(list_filter(w, x -> lower(x) IN ('le','la','et','est','les','des'))) FROM base
          UNION ALL
          SELECT doc_id, 'zh', len(list_filter(w, x -> lower(x) IN ('de5','shi4','le5','zai4','he2','you3'))) FROM base
        ),
        lang AS (
          SELECT doc_id, CASE WHEN h = 0 THEN 'und' ELSE lang END AS pred_lang
          FROM hits
          QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, lang) = 1
        ),
        kept AS (
          SELECT q.doc_id, q.cleaned, q.n_tokens, q.quality, l.pred_lang
          FROM qual q JOIN lang l ON q.doc_id = l.doc_id
          WHERE q.n_tokens >= 5 AND q.quality >= 0.3 AND l.pred_lang <> 'und'
        )"""


def neardup_full_chain_sql(
    mb: int, mr: int, keep_best_rank: str | None = None
) -> str:
    """The full near-dup corpus-prep chain (clean → langid → quality →
    filter → exact dedup → MinHash pairs → components → reps → span
    removal → split) as ONE DuckDB query over ``documents``, with the
    banding parameters supplied — shared by the r9 full-rebuild oracle
    (banding auto-sized at the fixture count) and the r10 incremental
    oracle (banding FROZEN at the OLD-subset count: incremental ≡ full
    rebuild holds at the state's parameters, exactly like
    ivf_index_append's frozen-quantizer parity).

    ``keep_best_rank`` (r18): restate the KEEP-BEST policy — each
    component's representative is the member maximizing (rank DESC
    NULLS LAST, doc_id ASC) via a row_number window instead of the
    min-id filter; the span stage then runs over the WINNER set, and
    component_id is the component's star label (not necessarily the
    winner's id)."""

    _MNH = mb * mr
    _MR = mr

    if keep_best_rank is not None:
        reps_cte = rf"""reps AS (
          SELECT doc_id, cleaned, quality, pred_lang, component_id FROM (
            SELECT sv.doc_id, sv.cleaned, sv.quality, sv.pred_lang,
                   sv.n_tokens,
                   COALESCE(c.component, sv.doc_id) AS component_id,
                   row_number() OVER (
                     PARTITION BY COALESCE(c.component, sv.doc_id)
                     ORDER BY sv.{keep_best_rank} DESC NULLS LAST,
                              sv.doc_id ASC) AS rk
            FROM surv sv LEFT JOIN compo c ON c.node = sv.doc_id)
          WHERE rk = 1
        )"""
        surv_cols = "doc_id, cleaned, quality, pred_lang, n_tokens"
    else:
        reps_cte = rf"""reps AS (
          SELECT sv.doc_id, sv.cleaned, sv.quality, sv.pred_lang,
                 COALESCE(c.component, sv.doc_id) AS component_id
          FROM surv sv LEFT JOIN compo c ON c.node = sv.doc_id
          WHERE COALESCE(c.component, sv.doc_id) = sv.doc_id
        )"""
        surv_cols = "doc_id, cleaned, quality, pred_lang"

    return rf"""
        WITH RECURSIVE {neardup_front_sql()},
        surv AS (
          SELECT {surv_cols}
          FROM (SELECT *, min(doc_id) OVER (PARTITION BY md5(cleaned)) AS keeper FROM kept)
          WHERE doc_id = keeper
        ),
        ctok AS (SELECT doc_id, {_CTOK} AS w FROM surv),
        {_shingles_sql("ctok")},
        {_minhash_cand_sql(_MNH, _MR, "bnd")},
        {_jaccard_pairs_sql()},
        {_reach_sql()},
        compo AS (SELECT s AS node, least(s, min(d)) AS component FROM reach GROUP BY s),
        {reps_cte},
        rtoks AS (SELECT doc_id, string_split(cleaned, ' ') AS t FROM reps),
        grams AS (
          SELECT doc_id, CAST(i AS INTEGER) AS pos,
                 md5(array_to_string(t[i:i+{_SPAN_W - 1}], ' ')) AS g
          FROM rtoks, unnest(generate_series(1, len(t) - {_SPAN_W - 1})) AS s(i)
          WHERE len(t) >= {_SPAN_W}
        ),
        owners AS (
          SELECT g, min(doc_id) AS owner FROM grams
          GROUP BY g HAVING count(DISTINCT doc_id) >= 2
        ),
        fcov AS (
          SELECT DISTINCT gr.doc_id, gr.pos + q.off AS idx
          FROM grams gr
          JOIN owners o ON o.g = gr.g AND gr.doc_id <> o.owner,
               unnest(generate_series(0, {_SPAN_W - 1})) AS q(off)
        ),
        scov AS (
          SELECT DISTINCT gr.doc_id, gr.pos + q.off AS idx
          FROM grams gr
          JOIN owners o ON o.g = gr.g AND gr.doc_id = o.owner,
               unnest(generate_series(0, {_SPAN_W - 1})) AS q(off)
        ),
        removals AS (
          -- foreign cover MINUS self cover, as an anti-join: DuckDB
          -- forbids EXCEPT anywhere inside a WITH RECURSIVE block
          SELECT f.doc_id, f.idx
          FROM fcov f
          LEFT JOIN scov p ON p.doc_id = f.doc_id AND p.idx = f.idx
          WHERE p.idx IS NULL
        ),
        stream AS (
          SELECT doc_id, CAST(i AS INTEGER) AS idx, t[i] AS tok
          FROM rtoks, unnest(generate_series(1, len(t))) AS s(i)
        ),
        rebuilt AS (
          SELECT s.doc_id,
                 array_to_string(list(s.tok ORDER BY s.idx), ' ') AS cleaned_text,
                 count(*) AS kept_toks
          FROM stream s
          LEFT JOIN removals r ON r.doc_id = s.doc_id AND r.idx = s.idx
          WHERE r.idx IS NULL
          GROUP BY s.doc_id
        )
        SELECT rp.doc_id, rp.pred_lang,
               CAST(len(rt.t) AS BIGINT) AS n_tokens,
               rp.quality, rp.component_id,
               COALESCE(rb.cleaned_text, '') AS cleaned_text,
               CAST(len(rt.t) - COALESCE(rb.kept_toks, 0) AS BIGINT) AS n_tokens_removed,
               CASE WHEN rp.doc_id IS NULL THEN NULL
                    WHEN {_HASH32.format(expr="'0:split:' || CAST(rp.doc_id AS VARCHAR)")} % 1000 < 100 THEN 'val'
                    WHEN {_HASH32.format(expr="'0:split:' || CAST(rp.doc_id AS VARCHAR)")} % 1000 < 200 THEN 'test'
                    ELSE 'train' END AS split
        FROM reps rp
        JOIN rtoks rt ON rt.doc_id = rp.doc_id
        LEFT JOIN rebuilt rb ON rb.doc_id = rp.doc_id
        """


def _driver_old_subset_count(
    split_at: int, table: str = "documents", id_col: str = "doc_id"
) -> int:
    """Rows of a driver fixture table with id < split_at — the
    OLD-corpus count that pins the incremental entries' frozen
    banding/quantizer (same fixture-derived-pin discipline as
    _driver_rows)."""
    try:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        t = pq.read_table(f"{_DRIVER_SF_DIR}/{table}.parquet", columns=[id_col])
        return pc.sum(pc.less(t.column(id_col), split_at)).as_py() or 0
    except (ImportError, FileNotFoundError, OSError) as e:
        import warnings

        warnings.warn(
            f"_driver_old_subset_count: fixture unreadable "
            f"({type(e).__name__}: {e}) — falling back to split_at",
            stacklevel=2,
        )
        return split_at


def _driver_chunk_count(step: int, max_doc_id: int | None = None) -> int:
    """Chunks of the driver documents fixture at the given window
    step: a document with n > 0 whitespace tokens yields
    (n-1)//step + 1 sliding windows (chunk_documents' sequence()).
    ASCII split, same class as operators/text.tokens. ``max_doc_id``
    restricts to doc_id < max_doc_id (the OLD-subset chunk count that
    pins the incremental RAG entry's frozen quantizer — the
    _driver_old_subset_count discipline)."""
    try:
        import re

        import pyarrow.parquet as pq

        t = pq.read_table(
            f"{_DRIVER_SF_DIR}/documents.parquet", columns=["doc_id", "text"]
        )
        total = 0
        ids = t.column("doc_id").to_pylist()
        for doc_id, x in zip(ids, t.column("text").to_pylist()):
            if x is None or (max_doc_id is not None and doc_id >= max_doc_id):
                continue
            n = len([w for w in re.split(r"\s+", x.strip(), flags=re.ASCII) if w])
            if n > 0:
                total += (n - 1) // step + 1
        return total
    except (ImportError, FileNotFoundError, OSError) as e:
        import warnings

        warnings.warn(
            f"_driver_chunk_count: fixture unreadable "
            f"({type(e).__name__}: {e}) — RAG-index oracle pins may diverge",
            stacklevel=2,
        )
        return 0


#: shared RAG-lane parameters (chunking, embedding width, probe/search
#: sizes) — pinned once so the base pipeline entry and the incremental
#: append entry derive their oracles from the same constants.
_RAG_CHUNK, _RAG_OVL, _RAG_DIM = 32, 8, 16
_RAG_STEP = _RAG_CHUNK - _RAG_OVL


def _rag_chunkvec_src() -> str:
    """DuckDB subquery deriving the chunk hash-embedding vectors
    (vec_id, embedding) from the documents table — the SQL twin of
    plans/rag_index.hash_embed_chunks, used as the parameterized
    ivf_trained_with_block's SOURCE subquery by both RAG entries."""
    from build_datawarehouse_demo_spark.plans.rag_index import CHUNK_UID_STRIDE

    h32_tok = "CAST(('0x' || substr(md5('0:' || t), 1, 8)) AS BIGINT)"
    return f"""(
      WITH tk AS (SELECT doc_id, {_TOK} AS w FROM documents),
      st AS (
        SELECT doc_id, w, unnest(range(0, len(w), {_RAG_STEP})) AS s
        FROM tk WHERE len(w) > 0
      )
      SELECT CAST(doc_id * {CHUNK_UID_STRIDE} + (s // {_RAG_STEP}) AS BIGINT)
               AS vec_id,
             list_transform(range(0, {_RAG_DIM}), i ->
               CAST(len(list_filter(w[s + 1 : s + {_RAG_CHUNK}],
                    t -> {h32_tok} % {_RAG_DIM} = i)) AS DOUBLE)) AS embedding
      FROM st) src"""


_chunkvec_src = _rag_chunkvec_src()


#: name -> the driver-fixture pin it computes. Read as module attributes
#: (``from registry_common import _N_DOCS``): ``__getattr__`` computes each
#: on first use and caches it, so the fixture is read only when a family
#: module or an oracle needs a pin.
_PINS = {
    "_N_EMB": lambda: _driver_rows("embeddings", 500),
    "_N_DOCS": lambda: _driver_rows("documents", 500),
    "_MB": lambda: minhash_auto_params(_pin("_N_DOCS"))[0],
    "_MR": lambda: minhash_auto_params(_pin("_N_DOCS"))[1],
    # auto-width SimHash at the driver fixture: per-block bits, signature
    # bits, and an md5-prefix hash wide enough for them
    "_SW": lambda: simhash_auto_width(_pin("_N_DOCS")),
    "_SBITS": lambda: 4 * _pin("_SW"),
    "_SHASH": lambda: (
        _HASH32
        if _pin("_SBITS") <= 32
        else "CAST(('0x' || substr(md5({expr}), 1, 15)) AS BIGINT)"
    ),
    # the incremental entries' OLD subset: doc_id < 3/4 of the fixture
    "_SPLIT_DOCS": lambda: (3 * _pin("_N_DOCS")) // 4,
    "_N_OLD": lambda: _driver_old_subset_count(_pin("_SPLIT_DOCS")),
    "_MB_OLD": lambda: minhash_auto_params(_pin("_N_OLD"))[0],
    "_MR_OLD": lambda: minhash_auto_params(_pin("_N_OLD"))[1],
    "_SPLIT_VEC": lambda: _pin("_SPLIT_DOCS") * CHUNK_UID_STRIDE,
    "_N_OLD_CHUNKS": lambda: _driver_chunk_count(_RAG_STEP, max_doc_id=_pin("_SPLIT_DOCS")),
    "_NL_OLD": lambda: max(2, math.ceil(math.sqrt(max(1, _pin("_N_OLD_CHUNKS"))))),
}


@functools.cache
def _pin(name: str):
    return _PINS[name]()


def __getattr__(name: str):
    if name in _PINS:
        return _pin(name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")


# ------------------------------------------------------------------
# the clean-filter-dedup chain (C4 line filters -> Gopher quality ->
# Gopher repetition -> linear classifier -> MinHash-LSH near-dup ->
# split) shared by the batch, incremental, migrated, keep-best, soft
# and streaming clean-filter keys. The fixture corpus is single-line
# and punctuation-free, so the keys feed it through pageify, a
# deterministic adapter the oracle restates verbatim: tokens re-joined
# into 8-word lines, no terminal punctuation on every 4th line, and a
# planted 'javascript' line (doc_id % 13 == 0), 'lorem ipsum' line
# (% 17) and '{' line (% 19), so every C4 rule has work. The knobs
# below make each stage drop some and keep most of the fixture (500
# pages -> 400 C4 -> 233 quality -> 197 repetition -> 136 classifier
# -> 132 near-dup reps); paper defaults stay the operators' defaults.
# ------------------------------------------------------------------
_EMPTY_LINES = "CAST(array() AS array<string>)"

#: the planted marker lines (engine and oracle share the literals)
_JS_LINE = "this javascript line should be dropped."
_LOREM_LINE = "lorem ipsum dolor sit amet."
_BRACE_LINE = "config { brace."

#: composition knobs (tuned as described above)
_MIN_WPL, _MIN_SENT = 5, 3
_GQ_MINW, _GQ_STOP = 30, 1
_TOPG = (0.09, 0.08, 0.16)
_QC_DIM, _CLF_T = 64, 0.45
#: the same knobs as the clean-filter plan functions' keyword arguments
_CF_KNOBS = dict(
    min_words=_GQ_MINW,
    min_stopword_hits=_GQ_STOP,
    max_top_gram_char_frac=_TOPG,
    clf_dim=_QC_DIM,
    clf_threshold=_CLF_T,
)


def _tok_of(col: str) -> str:
    """DuckDB whitespace tokenization of an arbitrary column — the
    _TOK convention generalized beyond `text`."""
    return rf"list_filter(regexp_split_to_array(trim({col}), '\s+'), x -> x <> '')"


def pageify(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """The fixture adapter (module docstring): re-shape a single-line
    corpus into multi-line 'web pages' with deterministic line/page
    violations. Pure codegen'd expressions (token slice/join + three
    modulus-gated marker lines) so the oracle restates it verbatim;
    one projection, no shuffle — at 100 TB this stage is free."""
    from build_datawarehouse_demo_spark.operators.text import tokens

    w = F.col("__w")
    chunk_lines = F.transform(
        F.sequence(
            F.lit(0), (F.ceil(F.size(w) / F.lit(8.0)).cast("int") - F.lit(1))
        ),
        lambda i: F.concat(
            F.array_join(F.slice(w, i * F.lit(8) + F.lit(1), F.lit(8)), " "),
            F.when(i % 4 == 3, F.lit("")).otherwise(F.lit(".")),
        ),
    )
    # empty-token guard: Spark's sequence(0, -1) would DESCEND where
    # DuckDB's range(0, 0) is empty — pin the empty-page shape
    lines = F.when(F.size(w) > 0, chunk_lines).otherwise(F.expr(_EMPTY_LINES))

    def marker(mod: int, line: str):
        return F.when(
            F.col(id_col) % mod == 0, F.array(F.lit(line))
        ).otherwise(F.expr(_EMPTY_LINES))

    page = F.array_join(
        F.concat(
            lines, marker(13, _JS_LINE), marker(17, _LOREM_LINE), marker(19, _BRACE_LINE)
        ),
        "\n",
    )
    return df.withColumn("__w", tokens(text_col)).select(
        F.col(id_col), page.alias(text_col)
    )


def _pageify_sql(tok_text: str, doc_where: str = "") -> str:
    """The pageify view in DuckDB — same 8-word chunks, same
    punctuation cycle, same marker lines. ``doc_where`` (r15) bounds
    the corpus (e.g. " WHERE doc_id < 250") so an expensive composed
    key can run on a smaller fixed slice — the Spark side must apply
    the identical filter."""
    return rf"""pages AS (
          SELECT doc_id,
                 array_to_string(
                   list_concat(list_concat(list_concat(
                     list_transform(range(0, CAST(ceil(len({tok_text}) / 8.0) AS INT)),
                       i -> array_to_string(({tok_text})[i*8+1 : i*8+8], ' ')
                            || CASE WHEN i % 4 = 3 THEN '' ELSE '.' END),
                     CASE WHEN doc_id % 13 = 0
                          THEN ['{_JS_LINE}'] ELSE CAST([] AS VARCHAR[]) END),
                     CASE WHEN doc_id % 17 = 0
                          THEN ['{_LOREM_LINE}'] ELSE CAST([] AS VARCHAR[]) END),
                     CASE WHEN doc_id % 19 = 0
                          THEN ['{_BRACE_LINE}'] ELSE CAST([] AS VARCHAR[]) END),
                   chr(10)) AS text
          FROM documents{doc_where}
        )"""


def _clean_filter_dedup_sql(
    mb: int,
    mr: int,
    w_sql: str,
    doc_where: str = "",
    keep_best_rank: str | None = None,
    soft_weights: bool = False,
) -> str:
    """The WHOLE composed chain as one DuckDB query: pageify → C4 →
    Gopher quality → Gopher repetition → classifier → MinHash-LSH
    near-dup (banding supplied, candidates bucket-joined, exact-Jaccard
    verified) → star components (recursive-CTE restatement) → min-id
    representatives → hash split. Every fragment is the SAME SQL shape
    already green on the component entries (the C4 /
    gopher / classifier, repetition, and MinHash + components
    text and dedup keys), re-rooted on the previous stage's survivors —
    so the COMPOSITION is hash-verified end-to-end.

    ``keep_best_rank`` (r18): restate the KEEP-BEST policy instead of
    min-id representatives — the survivor of each component is the
    member maximizing (rank DESC NULLS LAST, doc_id ASC), as a
    row_number window over every member (the exact decision
    plans/training_data's rank_col seam computes with min_by)."""
    w = _tok_of("cleaned")
    mnh = mb * mr
    split_hash = _HASH32.format(expr="'0:split:' || CAST(doc_id AS VARCHAR)")
    if soft_weights:
        # drop-free policy (r18): every survivor kept, weighted
        # 1/|component| — the dedup_soft_weights restatement composed
        # onto the full chain
        final = rf""",
        memb AS (
          SELECT c.doc_id, c.n_ws_tokens, c.clf_score,
                 COALESCE(cp.component, c.doc_id) AS component_id
          FROM clf c LEFT JOIN compo cp ON cp.node = c.doc_id
        ),
        sz AS (
          SELECT component_id, count(*) AS n_members
          FROM memb GROUP BY component_id
        )
        SELECT m.doc_id, m.n_ws_tokens, m.clf_score, m.component_id,
               CAST(sz.n_members AS BIGINT) AS n_members,
               round(1.0 / sz.n_members, 6) AS weight,
               CASE WHEN m.doc_id IS NULL THEN NULL
                    WHEN {split_hash} % 1000 < 100 THEN 'val'
                    WHEN {split_hash} % 1000 < 200 THEN 'test'
                    ELSE 'train' END AS split
        FROM memb m JOIN sz ON sz.component_id = m.component_id
        """
    elif keep_best_rank is not None:
        final = rf""",
        memb AS (
          SELECT c.doc_id, c.n_ws_tokens, c.clf_score,
                 COALESCE(cp.component, c.doc_id) AS component_id
          FROM clf c LEFT JOIN compo cp ON cp.node = c.doc_id
        )
        SELECT doc_id, n_ws_tokens, clf_score, component_id,
               CASE WHEN doc_id IS NULL THEN NULL
                    WHEN {split_hash} % 1000 < 100 THEN 'val'
                    WHEN {split_hash} % 1000 < 200 THEN 'test'
                    ELSE 'train' END AS split
        FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY component_id
                   ORDER BY {keep_best_rank} DESC NULLS LAST, doc_id ASC
                 ) AS rk
          FROM memb)
        WHERE rk = 1
        """
    else:
        final = rf"""
        SELECT c.doc_id, c.n_ws_tokens, c.clf_score,
               COALESCE(cp.component, c.doc_id) AS component_id,
               CASE WHEN c.doc_id IS NULL THEN NULL
                    WHEN {split_hash} % 1000 < 100 THEN 'val'
                    WHEN {split_hash} % 1000 < 200 THEN 'test'
                    ELSE 'train' END AS split
        FROM clf c LEFT JOIN compo cp ON cp.node = c.doc_id
        WHERE COALESCE(cp.component, c.doc_id) = c.doc_id
        """
    return rf"""
        WITH RECURSIVE {_pageify_sql(_tok_of("text"), doc_where)},
        c4d AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM pages),
        c4k AS (
          SELECT doc_id, text, lines,
                 list_filter(lines, l ->
                   regexp_matches(rtrim(l), '[.!?"]$')
                   AND len(list_filter(regexp_split_to_array(trim(l), '\s+'),
                                       x -> x <> '')) >= {_MIN_WPL}
                   AND NOT contains(lower(l), 'javascript')) AS keptl
          FROM c4d
        ),
        c4c AS (
          SELECT doc_id, text, keptl,
                 CASE WHEN text IS NULL THEN NULL
                      ELSE coalesce(array_to_string(keptl, chr(10)), '') END AS cleaned
          FROM c4k
        ),
        c4 AS (
          SELECT doc_id, cleaned
          FROM (
            SELECT doc_id, text, cleaned,
                   CAST(len(cleaned) - len(replace(replace(replace(cleaned, '.', ''),
                        '!', ''), '?', '')) AS BIGINT) AS n_sent
            FROM c4c)
          WHERE coalesce(text IS NOT NULL AND NOT contains(lower(text), 'lorem ipsum')
                AND NOT contains(text, '{{') AND n_sent >= {_MIN_SENT}, FALSE)
        ),
        gqm AS (
          SELECT doc_id, cleaned, {w} AS w,
                 list_filter(string_split(cleaned, chr(10)), l -> trim(l) <> '') AS lines
          FROM c4
        ),
        gq AS (
          SELECT doc_id, cleaned FROM (
            SELECT doc_id, cleaned, len(w) AS n,
                   greatest(len(lines), 1) AS nl,
                   round(CAST(list_sum(list_transform(w, t -> len(t))) AS DOUBLE)
                         / len(w), 6) AS mwl,
                   (len(cleaned) - len(replace(cleaned, '#', ''))
                    + (len(cleaned) - len(replace(cleaned, '...', ''))) / 3) AS n_sym,
                   len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]'))) AS n_alpha,
                   len(list_intersect(list_distinct(list_transform(w, t -> lower(t))),
                       ['the','be','to','of','and','that','have','with'])) AS stop_hits,
                   lines
            FROM gqm)
          WHERE n > 0 AND n BETWEEN {_GQ_MINW} AND 100000
            AND mwl BETWEEN 3.0 AND 10.0
            AND round(CAST(n_sym AS DOUBLE) / n, 6) <= 0.1
            AND round(CAST(len(list_filter(lines, l ->
                  ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%')) AS DOUBLE) / nl, 6) <= 0.9
            AND round(CAST(len(list_filter(lines, l ->
                  rtrim(l) LIKE '%...')) AS DOUBLE) / nl, 6) <= 0.3
            AND round(CAST(n_alpha AS DOUBLE) / n, 6) >= 0.8
            AND stop_hits >= {_GQ_STOP}
        ),
        rd AS (
          SELECT doc_id, cleaned, {w} AS w,
                 list_filter(string_split(cleaned, chr(10)), l -> trim(l) <> '') AS lines,
                 list_filter(regexp_split_to_array(cleaned, '\n{{2,}}'),
                             p -> trim(p) <> '') AS paras
          FROM gq
        ),
        rdup AS (
          SELECT doc_id, cleaned,
                 CAST(len(array_to_string(w, ' ')) AS BIGINT) AS norm_len,
                 len(lines) AS nl, len(lines) - len(list_distinct(lines)) AS nl_dup,
                 coalesce(list_sum(list_transform(lines, x -> len(x))), 0) AS lc,
                 coalesce(list_sum(list_transform(list_distinct(lines),
                                                  x -> len(x))), 0) AS lc1,
                 len(paras) AS np, len(paras) - len(list_distinct(paras)) AS np_dup,
                 coalesce(list_sum(list_transform(paras, x -> len(x))), 0) AS pc,
                 coalesce(list_sum(list_transform(list_distinct(paras),
                                                  x -> len(x))), 0) AS pc1
          FROM rd
        ),
        rgrams AS (
          SELECT doc_id, n.n AS n, array_to_string(w[i.i : i.i + n.n - 1], ' ') AS gram
          FROM rd, unnest([2, 3, 4]) AS n(n),
               unnest(generate_series(1, len(w) - n.n + 1)) AS i(i)
          WHERE len(w) >= n.n
        ),
        rcounted AS (
          SELECT doc_id, n, gram, count(*) AS c FROM rgrams GROUP BY doc_id, n, gram
        ),
        rbest AS (
          SELECT doc_id, n, gram, c,
                 row_number() OVER (PARTITION BY doc_id, n
                                    ORDER BY c DESC, gram ASC) AS rk
          FROM rcounted
        ),
        rtg AS (
          SELECT doc_id,
                 max(CASE WHEN n = 2 THEN c * len(gram) END) AS t2,
                 max(CASE WHEN n = 3 THEN c * len(gram) END) AS t3,
                 max(CASE WHEN n = 4 THEN c * len(gram) END) AS t4
          FROM rbest WHERE rk = 1 GROUP BY doc_id
        ),
        rep AS (
          SELECT rdup.doc_id, rdup.cleaned
          FROM rdup LEFT JOIN rtg USING (doc_id)
          WHERE coalesce(CASE WHEN nl > 0
                  THEN round(CAST(nl_dup AS DOUBLE)/nl,6) END <= 0.30, TRUE)
            AND coalesce(CASE WHEN nl > 0
                  THEN round(CAST(lc - lc1 AS DOUBLE)/lc,6) END <= 0.20, TRUE)
            AND coalesce(CASE WHEN np > 0
                  THEN round(CAST(np_dup AS DOUBLE)/np,6) END <= 0.30, TRUE)
            AND coalesce(CASE WHEN np > 0
                  THEN round(CAST(pc - pc1 AS DOUBLE)/pc,6) END <= 0.20, TRUE)
            AND coalesce(round(CAST(t2 AS DOUBLE)/norm_len,6) <= {_TOPG[0]}, TRUE)
            AND coalesce(round(CAST(t3 AS DOUBLE)/norm_len,6) <= {_TOPG[1]}, TRUE)
            AND coalesce(round(CAST(t4 AS DOUBLE)/norm_len,6) <= {_TOPG[2]}, TRUE)
        ),
        cf AS (
          SELECT doc_id, cleaned, CAST(len({w}) AS BIGINT) AS n_ws_tokens,
                 list_transform(range(0, {_QC_DIM}), i ->
                   CAST(len(list_filter({w}, t ->
                     CAST(('0x' || substr(md5('0:' || t), 1, 8)) AS BIGINT)
                       % {_QC_DIM} = i)) AS DOUBLE)) AS feat
          FROM rep
        ),
        clf AS (
          SELECT doc_id, cleaned, n_ws_tokens, clf_score FROM (
            SELECT doc_id, cleaned, n_ws_tokens,
                   CASE WHEN n_ws_tokens > 0 THEN
                     round(1.0 / (1.0 + exp(-(
                       list_dot_product(feat, {w_sql}) / n_ws_tokens))), 6)
                   END AS clf_score
            FROM cf)
          WHERE clf_score >= {_CLF_T}
        ),
        ctok AS (SELECT doc_id, {w} AS w FROM clf),
        {_shingles_sql("ctok")},
        {_minhash_cand_sql(mnh, mr, "bnd")},
        {_jaccard_pairs_sql()},
        {_reach_sql()},
        compo AS (
          SELECT s AS node, least(s, min(d)) AS component FROM reach GROUP BY s
        ){final}"""


_W_SQL = "[" + ", ".join(repr(x) for x in default_classifier_weights(_QC_DIM)) + "]"
