"""Sampling and mixing keys (``sample_*``, ``shard_*``): stratified, hash
and reservoir samples, train/val/test and leakage-safe splits,
temperature, token-budget, epoch-capped and weighted corpus mixes,
DSIR importance resampling and token-balanced sharding. Quotas are
exact integer fixed-point math, re-derived independently in SQL where
the temperature allows it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.operators.sampling import epoch_capped_quotas
from build_datawarehouse_demo_spark.registry import register
from build_datawarehouse_demo_spark.registry_common import (
    _DRIVER_SF_DIR,
    _HASH32,
    _jaccard_pairs_sql,
    _minhash_cand_sql,
    _reach_sql,
    _shingles_sql,
    _t,
    _TOK,
)


@register(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_HASH32.format(expr="'0:strat:' || CAST(doc_id AS VARCHAR)")} % 1000 <
          CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 1000 WHEN 'zh' THEN 250 ELSE 0 END
    """,
)
def q_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-stratum deterministic rates: keep all of a rare language,
    # downsample the head — the standard corpus-rebalancing shape.
    from build_datawarehouse_demo_spark.operators.sampling import stratified_sample_by_hash

    return stratified_sample_by_hash(
        _t(spark, sf_dir, "documents", rebalance=False),
        "doc_id",
        "lang",
        rates={"en": 0.5, "de": 1.0, "zh": 0.25},
    ).select("doc_id", "lang")


# ------------------------------------------------------------------
# deterministic sampling / dataset splits
# ------------------------------------------------------------------

@register(
    "sample_hash_deterministic",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_HASH32.format(expr="'7:sample:' || CAST(doc_id AS VARCHAR)")} % 1000 < 200
    """,
)
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ~20% deterministic sample keyed on md5(doc_id) — reproducible
    # across engines/runs, unlike df.sample()'s partition RNG.
    from build_datawarehouse_demo_spark.operators.sampling import sample_by_hash

    return sample_by_hash(
        _t(spark, sf_dir, "documents", rebalance=False), "doc_id", rate=0.2, seed=7
    ).select(
        "doc_id", "lang"
    )


@register(
    "sample_train_val_test_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN doc_id IS NULL THEN NULL
                WHEN {_HASH32.format(expr="'0:split:' || CAST(doc_id AS VARCHAR)")} % 1000 < 100 THEN 'val'
                WHEN {_HASH32.format(expr="'0:split:' || CAST(doc_id AS VARCHAR)")} % 1000 < 200 THEN 'test'
                ELSE 'train' END AS split
    FROM documents
    """,
)
def q_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stable train/val/test assignment: a row's split is a pure
    # function of its id, so membership survives dataset growth.
    from build_datawarehouse_demo_spark.operators.sampling import train_val_test_split

    return train_val_test_split(
        _t(spark, sf_dir, "documents", rebalance=False),
        "doc_id",
        val_frac=0.1,
        test_frac=0.1,
    ).select("doc_id", "split")


# ------------------------------------------------------------------
# deterministic fixed-size per-group sampling
# ------------------------------------------------------------------

@register(
    "sample_reservoir_per_group",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5('0:reservoir:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM documents WHERE doc_id IS NOT NULL
    ),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rn
      FROM h
    )
    SELECT doc_id, lang FROM r WHERE rn <= 5
    """,
)
def q_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-group deterministic sample (reservoir
    semantics as a hash-rank window — see operators/sampling.py)."""
    from build_datawarehouse_demo_spark.operators.sampling import (
        reservoir_sample_per_group,
    )

    docs = _t(spark, sf_dir, "documents", rebalance=False)
    return reservoir_sample_per_group(docs, "lang", "doc_id", k=5).select(
        "doc_id", "lang"
    )


# ------------------------------------------------------------------
# quality-weighted sampling — the weighted twin of
# sample_reservoir_per_group; w = n_chars stands in for a quality
# score (the shape a data-mixing pipeline runs: sample per source
# with probability ∝ quality)
# ------------------------------------------------------------------
@register(
    "sample_weighted_reservoir",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang, n_chars,
             CAST(('0x' || substr(md5('0:wreservoir:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS hv
      FROM documents
      WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL AND n_chars > 0
    ),
    r AS (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY ln((hv + 1) / 4294967296.0) / CAST(n_chars AS DOUBLE) DESC,
                        doc_id
             ) AS rn
      FROM h
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
    FROM r WHERE rn <= 10
    """,
)
def q_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly min(10, |group|) docs per language, inclusion
    probability ∝ n_chars (Efraimidis–Spirakis A-ES keyed on the
    engine-portable id hash — operators/sampling.py)."""
    from build_datawarehouse_demo_spark.operators.sampling import (
        weighted_reservoir_per_group,
    )

    docs = _t(spark, sf_dir, "documents", rebalance=False).select(
        "doc_id", "lang", "n_chars"
    )
    return weighted_reservoir_per_group(
        docs, group_col="lang", id_col="doc_id", weight_col="n_chars", k=10
    )


# ------------------------------------------------------------------
# temperature-based corpus mixing: per-source quotas ∝ n^(1/T),
# filled by deterministic hash rank — the multilingual rebalancing
# lever (T=2: sqrt weighting, the IEEE-exact case)
# ------------------------------------------------------------------
_BUDGET = 200


def _driver_source_counts(col: str, id_col: str = "doc_id") -> dict:
    """Per-value row counts of a driver-fixture documents column —
    the quota-pin input for the temperature-mix oracles (same
    fallback discipline as _driver_rows: only a genuinely absent
    fixture/capability falls back, loudly).

    Counts only rows with a non-null ``id_col`` (ADVICE r9):
    sample_temperature_mix computes quotas from the DRAWABLE
    population (rows whose rank key — the id — exists), and its
    sibling T=1 oracle counts WHERE doc_id IS NOT NULL; pinning the
    quotas from all-rows counts would encode a silently different
    population the moment the fixture grows a null id."""
    try:
        import collections

        import pyarrow.parquet as pq

        t = pq.read_table(
            f"{_DRIVER_SF_DIR}/documents.parquet", columns=[col, id_col]
        )
        ids = t.column(id_col)
        vals = t.column(col).to_pylist()
        return dict(
            collections.Counter(
                v for v, ok in zip(vals, ids.is_valid().to_pylist()) if ok
            )
        )
    except (ImportError, FileNotFoundError, OSError) as e:
        import warnings

        warnings.warn(
            f"_driver_source_counts({col!r}): fixture unreadable "
            f"({type(e).__name__}: {e}) — temperature-mix oracle pins may "
            "diverge from the data",
            stacklevel=2,
        )
        return {}


def _quota_values_sql(counts: dict, budget: int, temperature: float) -> str:
    """The pinned per-source quotas as a DuckDB VALUES body, computed
    through the SAME temperature_quotas function the operator calls
    (r6 pinned-constant discipline: derive, never re-formulate). The
    quota arithmetic itself is exact bigint math — pytest-verified
    against its own floor contract — so what the oracle independently
    re-verifies is the ranked draw and the quota JOIN/filter."""
    from build_datawarehouse_demo_spark.operators.sampling import (
        temperature_quotas,
    )

    q = temperature_quotas(counts, budget, temperature)
    if not q:
        return "VALUES (NULL, NULL) LIMIT 0"
    return "VALUES " + ", ".join(
        "('{}', {})".format(str(s).replace("'", "''"), k)
        for s, k in sorted(q.items())
    )


@register(
    "sample_temperature_mix",
    oracle=f"""
    WITH tgt(source, quota) AS (
      {_quota_values_sql(_driver_source_counts("source"), _BUDGET, 2.0)}
    ),
    ranked AS (
      SELECT doc_id, source,
             CAST(row_number() OVER (PARTITION BY source
                 ORDER BY CAST(('0x' || substr(md5('0:temp:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
                          doc_id) AS INTEGER) AS rnk
      FROM documents WHERE doc_id IS NOT NULL
    )
    SELECT r.doc_id, r.source, r.rnk, g.quota
    FROM ranked r JOIN tgt g ON g.source = r.source
    WHERE r.rnk <= g.quota
    """,
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample a {_BUDGET}-doc mix with per-source quotas ∝
    sqrt(n_source) (temperature 2): tail sources up-weighted
    relative to natural proportions without flattening the head;
    the draw within each source is the md5-hash rank, so both
    engines pick the identical docs. r9: quotas now come from the
    exact-integer temperature_quotas contract; the oracle pins
    them via the SAME function at the fixture counts (the r6
    pinned-constant discipline), and the T=1 sibling
    (sample_temperature_mix_t1) keeps a fully-SQL-independent quota oracle."""
    from build_datawarehouse_demo_spark.operators.sampling import (
        sample_temperature_mix,
    )

    docs = _t(spark, sf_dir, "documents", rebalance=False).select(
        "doc_id", "source"
    )
    return sample_temperature_mix(
        docs, "source", "doc_id", budget=_BUDGET
    ).select("doc_id", "source", "rnk", "quota")


# ------------------------------------------------------------------
# general-temperature corpus mixing (VERDICT r8 item 2): the T=2
# restriction is gone — quotas are exact bigint fixed-point math
# (temperature_quotas), so ANY T > 0 is engine-reproducible. The
# entries run on the SKEWED `lang` column (218/75/73/70/64 at the
# fixture) so different temperatures provably produce different
# quota vectors; T=1's oracle computes its quotas fully
# independently in integer SQL (floor(budget*n/Σn) — the scale
# 10^30 cancels exactly), T=1.5 and T=3 pin quotas through the
# same function the operator calls.
# ------------------------------------------------------------------
def _rank_sql(src: str) -> str:
    return f"""
    ranked AS (
      SELECT doc_id, {src} AS source,
             CAST(row_number() OVER (PARTITION BY {src}
                 ORDER BY CAST(('0x' || substr(md5('0:temp:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT),
                          doc_id) AS INTEGER) AS rnk
      FROM documents WHERE doc_id IS NOT NULL
    )"""


@register(
    "sample_temperature_mix_t1",
    oracle=f"""
    WITH c AS (
      SELECT lang, count(*) AS n FROM documents
      WHERE doc_id IS NOT NULL GROUP BY lang
    ),
    tot AS (SELECT sum(n) AS t FROM c),
    tgt AS (
      SELECT lang AS source,
             CAST(({_BUDGET} * n) // t AS INTEGER) AS quota
      FROM c, tot
    ),
    {_rank_sql("lang")}
    SELECT r.doc_id, r.source AS lang, r.rnk, g.quota
    FROM ranked r JOIN tgt g ON g.source = r.source
    WHERE r.rnk <= g.quota
    """,
)
def q_temp_t1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T=1 temperature mix over the skewed lang column — natural
    proportions: quota = floor(budget * n / Σn). At T=1 the 10^30
    weight scale cancels exactly, so the oracle computes the
    quotas INDEPENDENTLY in integer SQL — this entry verifies the
    quota arithmetic end-to-end, not just the ranked draw."""
    from build_datawarehouse_demo_spark.operators.sampling import (
        sample_temperature_mix,
    )

    docs = _t(spark, sf_dir, "documents", rebalance=False).select("doc_id", "lang")
    return sample_temperature_mix(
        docs, "lang", "doc_id", budget=_BUDGET, temperature=1.0
    ).select("doc_id", "lang", "rnk", "quota")


def _pinned_oracle(temperature: float) -> str:
    return f"""
    WITH tgt(source, quota) AS (
      {_quota_values_sql(_driver_source_counts("lang"), _BUDGET, temperature)}
    ),
    {_rank_sql("lang")}
    SELECT r.doc_id, r.source AS lang, r.rnk, g.quota
    FROM ranked r JOIN tgt g ON g.source = r.source
    WHERE r.rnk <= g.quota
    """


def _run_temp(spark: SparkSession, sf_dir: str, temperature: float) -> DataFrame:
    from build_datawarehouse_demo_spark.operators.sampling import (
        sample_temperature_mix,
    )

    docs = _t(spark, sf_dir, "documents", rebalance=False).select(
        "doc_id", "lang"
    )
    return sample_temperature_mix(
        docs, "lang", "doc_id", budget=_BUDGET, temperature=temperature
    ).select("doc_id", "lang", "rnk", "quota")


@register("sample_temperature_mix_t15", oracle=_pinned_oracle(1.5))
def q_temp_t15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T=1.5 mix over the skewed lang column: quotas ∝ n^(2/3) by
    the exact-integer fixed-point contract (temperature_quotas),
    pinned into the oracle through the same function at the fixture
    counts; ranked draw + quota join/filter verified in SQL."""
    return _run_temp(spark, sf_dir, 1.5)


@register("sample_temperature_mix_t3", oracle=_pinned_oracle(3.0))
def q_temp_t3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T=3 mix over the skewed lang column: quotas ∝ n^(1/3) —
    strong tail up-weighting — same pinned exact-integer contract
    as the T=1.5 entry."""
    return _run_temp(spark, sf_dir, 3.0)


_DSIR_B, _DSIR_K = 1024, 100


@register(
    "sample_importance_dsir",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, (lang = 'en') AS is_t, lower(tok) AS tok
      FROM documents, unnest({_TOK}) AS t(tok)
    ),
    b AS (
      SELECT doc_id, is_t,
             {_HASH32.format(expr="'0:dsir:' || tok")} % {_DSIR_B} AS bucket
      FROM tok
    ),
    pb AS (
      SELECT bucket, count(*) AS cr,
             sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct
      FROM b GROUP BY 1
    ),
    tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt FROM pb),
    w AS (
      SELECT bucket,
             ln((ct + 1.0) / (nt + {_DSIR_B}.0))
             - ln((cr + 1.0) / (nr + {_DSIR_B}.0)) AS wb
      FROM pb, tot
    ),
    sc AS (
      SELECT b.doc_id, count(*) AS n_tokens, sum(w.wb) AS logw
      FROM b JOIN w USING (bucket) GROUP BY 1
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(logw, 6) AS log_weight,
           round(logw + (- ln(- ln(
             ({_HASH32.format(expr="'0:dsirg:' || CAST(doc_id AS VARCHAR)")} + 0.5)
             / 4294967296.0))), 6) AS score
    FROM sc
    ORDER BY score DESC, doc_id
    LIMIT {_DSIR_K}
    """,
)
def q_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al., NeurIPS 2023) with
    the English subset as the target distribution: hashed-unigram
    add-1 multinomials over {_DSIR_B} buckets, per-doc log
    importance weight, deterministic Gumbel top-{_DSIR_K}
    (operators/sampling.py:importance_resample_dsir). The oracle
    refits BOTH models and replays the Gumbel draw from the same
    md5 uniforms."""
    from build_datawarehouse_demo_spark.operators.sampling import (
        importance_resample_dsir,
    )

    return importance_resample_dsir(
        _t(spark, sf_dir, "documents"),
        target_pred=F.col("lang") == "en",
        k=_DSIR_K,
        n_buckets=_DSIR_B,
    )


def _driver_source_token_sums(
    source_col: str = "lang", id_col: str = "doc_id"
) -> dict:
    """Per-source whitespace-token totals of the driver documents
    fixture — the quota-pin input for the token-budget mix oracle.
    Tokenization matches operators/text.tokens exactly: ASCII \\s+
    split of the trimmed text, empty tokens removed (re.ASCII pins the
    same whitespace class Java regex uses by default — the round-6
    UDTF lesson). Counts only rows with non-null id AND non-null text
    token count, the operator's drawable population."""
    try:
        import collections
        import re

        import pyarrow.parquet as pq

        t = pq.read_table(
            f"{_DRIVER_SF_DIR}/documents.parquet",
            columns=[source_col, id_col, "text"],
        )
        ids = t.column(id_col).is_valid().to_pylist()
        srcs = t.column(source_col).to_pylist()
        texts = t.column("text").to_pylist()
        sums: dict = collections.defaultdict(int)
        for ok, s, x in zip(ids, srcs, texts):
            if not ok or x is None:
                continue
            sums[s] += len([w for w in re.split(r"\s+", x.strip(), flags=re.ASCII) if w])
        return dict(sums)
    except (ImportError, FileNotFoundError, OSError) as e:
        import warnings

        warnings.warn(
            f"_driver_source_token_sums: fixture unreadable "
            f"({type(e).__name__}: {e}) — token-mix oracle pins may diverge",
            stacklevel=2,
        )
        return {}


# ------------------------------------------------------------------
# token-budget corpus mixing: production mixes are specified in
# TOKENS ("500B tokens, temperature-rebalanced"),
# not documents — quota ∝ tok_s^(1/T), filled by the greedy prefix
# of the deterministic hash order (running token sum <= quota).
# T=1's oracle re-derives the quotas INDEPENDENTLY in integer SQL
# (the 10^30 fixed-point scale cancels exactly under floor
# division); T=2 pins quotas through temperature_quotas at
# fixture-derived token totals — the same two-tier verification
# the document-quota family uses (sample_temperature_mix_t*).
# ------------------------------------------------------------------
_TBUDGET = 5000
_rank_hash = _HASH32.format(expr="'0:tokmix:' || CAST(doc_id AS VARCHAR)")

_ranked = f"""
    d AS (
      SELECT doc_id, lang, CAST(len({_TOK}) AS BIGINT) AS n_ws_tokens
      FROM documents WHERE doc_id IS NOT NULL
    ),
    r AS (
      SELECT doc_id, lang, n_ws_tokens,
             CAST(sum(n_ws_tokens) OVER (PARTITION BY lang
                 ORDER BY {_rank_hash}, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS tok_cum
      FROM d
    )"""


def _run_tokmix(
    spark: SparkSession, sf_dir: str, temperature: float
) -> DataFrame:
    from build_datawarehouse_demo_spark.operators.sampling import (
        sample_token_budget_mix,
    )
    from build_datawarehouse_demo_spark.operators.text import token_count

    docs = token_count(
        _t(spark, sf_dir, "documents", rebalance=False).select("doc_id", "lang", "text")
    ).select("doc_id", "lang", "n_ws_tokens")
    return sample_token_budget_mix(
        docs, "lang", "doc_id", "n_ws_tokens",
        token_budget=_TBUDGET, temperature=temperature,
    ).select("doc_id", "lang", "n_ws_tokens", "tok_cum", "token_quota")


@register(
    "sample_token_budget_mix_t1",
    oracle=f"""
    WITH {_ranked},
    c AS (SELECT lang, sum(n_ws_tokens) AS tok FROM d GROUP BY lang),
    tot AS (SELECT sum(tok) AS t FROM c),
    tgt AS (
      SELECT lang, CAST(({_TBUDGET} * tok) // t AS BIGINT) AS token_quota
      FROM c, tot
    )
    SELECT r.doc_id, r.lang, r.n_ws_tokens, r.tok_cum, g.token_quota
    FROM r JOIN tgt g ON g.lang = r.lang
    WHERE r.tok_cum <= g.token_quota
    """,
)
def q_tokmix_t1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T=1 token-budget mix over the skewed lang column — natural
    token proportions: quota_s = floor(budget * tok_s / Σtok),
    re-derived independently in integer SQL (the fixed-point scale
    cancels exactly at T=1), then the greedy-prefix fill verified
    as a windowed running sum
    (operators/sampling.py:sample_token_budget_mix)."""
    return _run_tokmix(spark, sf_dir, 1.0)


@register(
    "sample_token_budget_mix_t2",
    oracle=f"""
    WITH {_ranked},
    tgt(lang, token_quota) AS (
      {_quota_values_sql(_driver_source_token_sums(), _TBUDGET, 2.0)}
    )
    SELECT r.doc_id, r.lang, r.n_ws_tokens, r.tok_cum,
           CAST(g.token_quota AS BIGINT) AS token_quota
    FROM r JOIN tgt g ON g.lang = r.lang
    WHERE r.tok_cum <= g.token_quota
    """,
)
def q_tokmix_t2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T=2 token-budget mix: token quotas ∝ sqrt(tok_s) by the
    exact-integer fixed-point contract, pinned into the oracle
    through temperature_quotas at fixture-derived per-lang token
    totals (_driver_source_token_sums replays
    operators/text.tokens' ASCII whitespace split); the ranked
    greedy-prefix fill is verified in SQL."""
    return _run_tokmix(spark, sf_dir, 2.0)


_N_SHARDS = 8
_ord_hash = _HASH32.format(expr="'0:shardord:' || CAST(doc_id AS VARCHAR)")


@register(
    "shard_token_balanced",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, CAST(len({_TOK}) AS BIGINT) AS n_tokens,
             {_ord_hash} AS hkey
      FROM documents WHERE doc_id IS NOT NULL
    ),
    tot AS (SELECT sum(n_tokens) AS t FROM d),
    r AS (
      SELECT doc_id, n_tokens,
             CAST(coalesce(sum(n_tokens) OVER (ORDER BY hkey, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS prev_cum
      FROM d
    )
    SELECT r.doc_id, r.n_tokens, r.prev_cum,
           CAST(least({_N_SHARDS - 1}, (r.prev_cum * {_N_SHARDS}) // t)
             AS INTEGER) AS shard
    FROM r, tot
    """,
)
def q_shard_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced corpus sharding: global md5-hash shuffle
    order, shard = prev-cum-tokens * N div total — every shard's
    token mass within one document of total/N
    (operators/sampling.py:shard_token_balanced). The oracle
    recomputes the GLOBAL running sum as one SQL window; the
    engine builds the same sum scalably from range-partitioned
    per-partition prefix sums + a bounded offsets collect — a hash
    match proves the distributed cumsum ≡ the global window."""
    from build_datawarehouse_demo_spark.operators.sampling import (
        shard_token_balanced,
    )
    from build_datawarehouse_demo_spark.operators.text import token_count

    docs = token_count(
        _t(spark, sf_dir, "documents").select("doc_id", "text")
    ).select("doc_id", F.col("n_ws_tokens"))
    return shard_token_balanced(docs, "doc_id", "n_ws_tokens", _N_SHARDS)


# ------------------------------------------------------------------
# near-dup-aware split: minhash pairs (the dedup_minhash_lsh lane's
# exact banding, 16 hashes / 4 bands / jaccard >= 0.8) -> star
# components -> split hashed on the COMPONENT id. The oracle
# restates banding + verify (the dedup_minhash_lsh oracle SQL),
# adds the recursive-CTE components (the r9 pipeline discipline)
# and draws the split from md5('0:split:' || component) — the
# train_val_test_split hash keyed on the component, so singleton
# documents provably keep their plain per-id split.
# ------------------------------------------------------------------

split_hash = _HASH32.format(
    expr="'0:split:' || CAST(COALESCE(cp.component, d.doc_id) AS VARCHAR)"
)


@register(
    "sample_split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE tok AS (
      SELECT doc_id, {_TOK} AS w FROM documents
    ),
    {_shingles_sql()},
    {_minhash_cand_sql(16, 4)},
    {_jaccard_pairs_sql()},
    {_reach_sql()},
    compo AS (
      SELECT s AS node, least(s, min(d)) AS component FROM reach GROUP BY s
    )
    SELECT d.doc_id,
           COALESCE(cp.component, d.doc_id) AS component_id,
           CASE WHEN {split_hash} % 1000 < 100 THEN 'val'
                WHEN {split_hash} % 1000 < 200 THEN 'test'
                ELSE 'train' END AS split
    FROM documents d LEFT JOIN compo cp ON cp.node = d.doc_id
    """,
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split over the raw documents table: verified
    MinHash near-dup pairs at the dedup_minhash_lsh lane's exact
    parameters, star components, split drawn from the component
    id (operators/sampling.leakage_safe_split) — near-duplicate
    documents land in the SAME split by construction."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        minhash_dedup_pairs,
    )
    from build_datawarehouse_demo_spark.operators.sampling import (
        leakage_safe_split,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_dedup_pairs(docs)
    return leakage_safe_split(docs.select("doc_id"), pairs).select(
        "doc_id", "component_id", "split"
    )


# ------------------------------------------------------------------
# data-constrained mixing: temperature token quotas with per-source
# repetition caps (Muennighoff et al. 2023), materialized as full
# epochs + a greedy-prefix partial epoch. The water-filling
# allocation is pinned as derived VALUES (the r6 derive-never-
# reformulate tier — its integer arithmetic is pytest-verified
# against a hand-computed reference), while the SQL independently
# re-verifies the epoch materialization: the per-pass running sum,
# the full-epoch fanout and the partial prefix.
# ------------------------------------------------------------------
_EBUDGET, _EPOCHS, _ETEMP = 9000, 2, 3.0
_totals = _driver_source_token_sums("lang")
_quotas = epoch_capped_quotas(_totals, _EBUDGET, _ETEMP, _EPOCHS)

_plan = [
    (s, int(_quotas[s]) // int(_totals[s]), int(_quotas[s]) % int(_totals[s]))
    for s in sorted(_quotas)
    if _totals.get(s, 0) > 0
]

_values = (
    "VALUES "
    + ", ".join(
        "('{}', {}, {})".format(str(s).replace("'", "''"), f, r)
        for s, f, r in _plan
    )
    if _plan
    else "VALUES (NULL, NULL, NULL) LIMIT 0"
)
_epoch_rank_hash = _HASH32.format(expr="'0:epochmix:' || CAST(doc_id AS VARCHAR)")


@register(
    "sample_epoch_capped_mix",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, CAST(len({_TOK}) AS BIGINT) AS n_ws_tokens
      FROM documents WHERE doc_id IS NOT NULL
    ),
    r AS (
      SELECT doc_id, lang, n_ws_tokens,
             CAST(sum(n_ws_tokens) OVER (PARTITION BY lang
                 ORDER BY {_epoch_rank_hash}, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS tok_cum
      FROM d
    ),
    q(lang, eful, erem) AS ({_values}),
    fe AS (
      SELECT r.doc_id, r.lang, r.n_ws_tokens, r.tok_cum,
             CAST(e.e AS BIGINT) AS epoch
      FROM r JOIN q ON q.lang = r.lang,
           unnest(generate_series(0, q.eful - 1)) AS e(e)
    ),
    pe AS (
      SELECT r.doc_id, r.lang, r.n_ws_tokens, r.tok_cum,
             CAST(q.eful AS BIGINT) AS epoch
      FROM r JOIN q ON q.lang = r.lang
      WHERE q.erem > 0 AND r.tok_cum <= q.erem
    )
    SELECT * FROM fe UNION ALL SELECT * FROM pe
    """,
)
def q_epoch_capped_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-capped token-budget mix over the skewed lang column
    (operators/sampling.sample_epoch_capped_mix): T=3 flattening
    over-draws the small languages past the 2-epoch cap, so the
    allocation water-fills their freed budget back into the large
    ones; output rows carry (epoch, tok_cum) — one row per
    document per participating pass."""
    from build_datawarehouse_demo_spark.operators.sampling import (
        sample_epoch_capped_mix,
    )
    from build_datawarehouse_demo_spark.operators.text import token_count

    docs = token_count(
        _t(spark, sf_dir, "documents", rebalance=False).select(
            "doc_id", "lang", "text"
        )
    ).select("doc_id", "lang", "n_ws_tokens")
    return sample_epoch_capped_mix(
        docs,
        "lang",
        "doc_id",
        "n_ws_tokens",
        token_budget=_EBUDGET,
        max_epochs=_EPOCHS,
        temperature=_ETEMP,
    ).select("doc_id", "lang", "n_ws_tokens", "tok_cum", "epoch")


# ------------------------------------------------------------------
# soft dedup -> weighted mixing, end to end (VERDICT r17 item 2):
# the corpus is re-crawled (every even-id document appears twice
# under a later id), exact-digest duplicate classes get
# dedup_soft_weights' 1/|class| mass, and the token-budget mixer
# consumes it — quotas, order and fill all in WEIGHTED tokens, so
# a duplicate class costs the budget ~one document. Every step is
# exact micro-unit integer arithmetic except the per-row ES key (a
# pure row function both engines derive identically — the
# sample_weighted_reservoir precedent); the oracle re-derives the
# T=1 quotas independently in HUGEINT SQL.
# ------------------------------------------------------------------
_WB = 5000  # token budget (plain tokens; quotas run in micro-tokens)
_wtok_hash = _HASH32.format(expr="'0:wtokmix:' || CAST(doc_id AS VARCHAR)")


@register(
    "sample_token_budget_mix_weighted",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, lang, text FROM documents WHERE doc_id IS NOT NULL
      UNION ALL
      SELECT doc_id + 1000000, lang, text FROM documents
      WHERE doc_id IS NOT NULL AND doc_id % 2 = 0
    ),
    d AS (
      SELECT doc_id, lang,
             CAST(len({_TOK}) AS BIGINT) AS n_ws_tokens,
             md5(text) AS dg
      FROM corpus
    ),
    cls AS (SELECT dg, count(*) AS n FROM d GROUP BY dg),
    wd AS (
      SELECT d.doc_id, d.lang, d.n_ws_tokens,
             round(1.0 / cls.n, 6) AS weight,
             CAST(round(round(1.0 / cls.n, 6) * 1000000, 0) AS BIGINT) AS mw
      FROM d JOIN cls USING (dg)
    ),
    c AS (SELECT lang, sum(mw * n_ws_tokens) AS wtok FROM wd GROUP BY lang),
    tot AS (SELECT sum(wtok) AS t FROM c),
    tgt AS (
      SELECT lang,
             CAST((CAST({_WB} AS HUGEINT) * 1000000 * wtok) // t AS BIGINT)
               AS wtok_quota
      FROM c, tot
    ),
    r AS (
      SELECT doc_id, lang, n_ws_tokens, weight,
             CAST(sum(mw * n_ws_tokens) OVER (PARTITION BY lang
                 ORDER BY ln(({_wtok_hash} + 1) / 4294967296.0)
                          / CAST(mw AS DOUBLE) DESC,
                          doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS wtok_cum
      FROM wd
    )
    SELECT r.doc_id, r.lang, r.n_ws_tokens, r.weight, r.wtok_cum,
           g.wtok_quota
    FROM r JOIN tgt g ON g.lang = r.lang
    WHERE r.wtok_cum <= g.wtok_quota
    """,
)
def q_weighted_token_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-dedup mass flowing into training-data assembly (r18,
    VERDICT r17 item 2): a deterministic re-crawl doubles every
    even-id document under a later id; exact-digest components give
    each duplicate class dedup_soft_weights' 1/|class| weight; the
    weight-aware token-budget mixer (T=1) then draws with
    probability ∝ weight and accounts quotas in weighted tokens —
    the duplicate class costs ~one document's tokens instead of
    two. All quota/fill arithmetic is exact micro-unit integers
    (operators/sampling._micro_weight); the draw order is the
    engine-portable Efraimidis–Spirakis id-hash key."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        dedup_soft_weights,
    )
    from build_datawarehouse_demo_spark.operators.sampling import (
        sample_token_budget_mix,
    )
    from build_datawarehouse_demo_spark.operators.text import token_count

    docs = (
        _t(spark, sf_dir, "documents", rebalance=False)
        .select("doc_id", "lang", "text")
        .where(F.col("doc_id").isNotNull())
    )
    recrawl = docs.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "lang", "text"
    )
    corpus = docs.unionByName(recrawl)
    dg = corpus.withColumn("__dg", F.md5("text"))
    comp = (
        dg.groupBy("__dg")
        .agg(F.min("doc_id").alias("component"))
        .join(dg, "__dg")
        .select(F.col("doc_id").alias("node"), "component")
    )
    soft = dedup_soft_weights(token_count(corpus), comp)
    return sample_token_budget_mix(
        soft,
        "lang",
        "doc_id",
        "n_ws_tokens",
        token_budget=_WB,
        temperature=1.0,
        weight_col="weight",
    ).select("doc_id", "lang", "n_ws_tokens", "weight", "wtok_cum", "wtok_quota")


# ------------------------------------------------------------------
# the DOCUMENT-quota twin of sample_token_budget_mix_weighted:
# soft-dedup mass drives the per-source document quotas (micro-doc
# units), the ES key orders the draw, the fill is the running
# weighted-mass prefix. T=1 so the oracle re-derives the quotas
# independently in HUGEINT SQL (the fixed-point scale cancels).
# ------------------------------------------------------------------
_WDB = 120  # document budget (plain docs; quotas run in micro-docs)
_wtemp_hash = _HASH32.format(expr="'0:wtemp:' || CAST(doc_id AS VARCHAR)")


@register(
    "sample_temperature_mix_weighted",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, lang, text FROM documents WHERE doc_id IS NOT NULL
      UNION ALL
      SELECT doc_id + 1000000, lang, text FROM documents
      WHERE doc_id IS NOT NULL AND doc_id % 2 = 0
    ),
    d AS (SELECT doc_id, lang, md5(text) AS dg FROM corpus),
    cls AS (SELECT dg, count(*) AS n FROM d GROUP BY dg),
    wd AS (
      SELECT d.doc_id, d.lang,
             round(1.0 / cls.n, 6) AS weight,
             CAST(round(round(1.0 / cls.n, 6) * 1000000, 0) AS BIGINT) AS mw
      FROM d JOIN cls USING (dg)
    ),
    c AS (SELECT lang, sum(mw) AS mass FROM wd GROUP BY lang),
    tot AS (SELECT sum(mass) AS t FROM c),
    tgt AS (
      SELECT lang,
             CAST((CAST({_WDB} AS HUGEINT) * 1000000 * mass) // t AS BIGINT)
               AS wdoc_quota
      FROM c, tot
    ),
    r AS (
      SELECT doc_id, lang, weight,
             CAST(sum(mw) OVER (PARTITION BY lang
                 ORDER BY ln(({_wtemp_hash} + 1) / 4294967296.0)
                          / CAST(mw AS DOUBLE) DESC,
                          doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS wdoc_cum
      FROM wd
    )
    SELECT r.doc_id, r.lang, r.weight, r.wdoc_cum, g.wdoc_quota
    FROM r JOIN tgt g ON g.lang = r.lang
    WHERE r.wdoc_cum <= g.wdoc_quota
    """,
)
def q_weighted_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted DOCUMENT-quota mixing (r18): the re-crawled corpus'
    soft-dedup mass (1/|exact-digest class|) drives per-language
    quotas in exact micro-doc integers; the draw is the
    Efraimidis–Spirakis id-hash key, the fill the greedy prefix of
    the running weighted mass — a duplicate class counts as ~one
    document toward its source's quota (the document-unit twin of
    sample_token_budget_mix_weighted)."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        dedup_soft_weights,
    )
    from build_datawarehouse_demo_spark.operators.sampling import (
        sample_temperature_mix,
    )

    docs = (
        _t(spark, sf_dir, "documents", rebalance=False)
        .select("doc_id", "lang", "text")
        .where(F.col("doc_id").isNotNull())
    )
    recrawl = docs.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "lang", "text"
    )
    corpus = docs.unionByName(recrawl)
    dg = corpus.withColumn("__dg", F.md5("text"))
    comp = (
        dg.groupBy("__dg")
        .agg(F.min("doc_id").alias("component"))
        .join(dg, "__dg")
        .select(F.col("doc_id").alias("node"), "component")
    )
    soft = dedup_soft_weights(corpus, comp)
    return sample_temperature_mix(
        soft,
        "lang",
        "doc_id",
        budget=_WDB,
        temperature=1.0,
        weight_col="weight",
    ).select("doc_id", "lang", "weight", "wdoc_cum", "wdoc_quota")


def _waterfill_ctes(budget_micro: int, max_epochs: int, rounds: int) -> str:
    """Unrolled epoch-capped water-filling at T = 1/2, entirely in
    HUGEINT SQL (r19, VERDICT r18 item 2: "caps re-derived in HUGEINT
    SQL" — the r14 key pinned the allocation as derived VALUES; this
    oracle recomputes it from the data inside DuckDB).

    Each round mirrors one iteration of
    operators/sampling.epoch_capped_quotas: uncapped sources draw
    quota q_s = (budget_left · wtok_s²) // Σ_uncapped wtok² (T = 1/2
    ⇒ 1/T = 2, so the temperature weight is the exact integer square;
    ``temperature_quotas``' 10^30 fixed-point scale is a common factor
    of numerator and denominator and cancels under floor division),
    any source whose draw exceeds its repetition cap
    (max_epochs · wtok_s) is capped AT the cap and its cap leaves the
    budget, and the loop re-runs until stable. ``rounds`` unrolled
    iterations suffice for any corpus with <= rounds sources (each
    round either converges or caps at least one source); extra rounds
    are no-ops on a converged state. Expects a CTE ``wd(lang, mw,
    n_ws_tokens, ...)`` in scope; emits ``plan(lang, eful, erem)``.
    """
    ctes = [
        f"""w0 AS MATERIALIZED (
          SELECT lang, CAST(sum(mw * n_ws_tokens) AS HUGEINT) AS wtok,
                 CAST({max_epochs} AS HUGEINT)
                   * CAST(sum(mw * n_ws_tokens) AS HUGEINT) AS cap,
                 FALSE AS capped
          FROM wd GROUP BY lang
        )""",
        f"b0 AS MATERIALIZED (SELECT CAST({budget_micro} AS HUGEINT) AS b)",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""q{i} AS MATERIALIZED (
          SELECT s.lang, s.wtok, s.cap, s.capped,
                 CASE WHEN s.capped OR b.b <= 0 THEN NULL
                      ELSE (b.b * s.wtok * s.wtok)
                           // (SELECT sum(wtok * wtok) FROM w{i - 1}
                               WHERE NOT capped)
                 END AS q
          FROM w{i - 1} s, b{i - 1} b
        )"""
        )
        ctes.append(
            f"""w{i} AS MATERIALIZED (
          SELECT lang, wtok, cap,
                 capped OR COALESCE(q > cap, FALSE) AS capped
          FROM q{i}
        )"""
        )
        ctes.append(
            f"""b{i} AS MATERIALIZED (
          SELECT b.b - COALESCE((SELECT sum(cap) FROM q{i}
                                 WHERE NOT capped AND q > cap), 0) AS b
          FROM b{i - 1} b
        )"""
        )
    ctes.append(
        f"""quota AS (
          SELECT lang, wtok,
                 CASE WHEN capped OR COALESCE(q > cap, FALSE) THEN cap
                      ELSE COALESCE(q, 0) END AS quota
          FROM q{rounds}
        )"""
    )
    ctes.append(
        """plan AS (
          SELECT lang, CAST(quota // wtok AS BIGINT) AS eful,
                 CAST(quota % wtok AS BIGINT) AS erem
          FROM quota WHERE wtok > 0
        )"""
    )
    return ",\n        ".join(ctes)


# ------------------------------------------------------------------
# soft dedup -> WEIGHTED MULTI-EPOCH mixing (VERDICT r18 item 2):
# the re-crawled corpus' soft-dedup mass flows through the
# data-constrained mixer — repetition caps, water-filled quotas and
# the greedy partial-epoch fill all in exact micro-weighted tokens.
# T = 1/2 sharpens toward the head source, so the budget over-draws
# it past the 2-epoch cap and the freed budget water-fills into the
# tail — the capping path is exercised AND fully re-derived in
# HUGEINT SQL (unrolled rounds; no pinned VALUES).
# ------------------------------------------------------------------
_WEB = 40_000  # token budget (plain tokens; quotas run in micro-tokens)
_WEEP = 2  # max epochs per source
_wepoch_hash = _HASH32.format(expr="'0:wepochmix:' || CAST(doc_id AS VARCHAR)")


@register(
    "sample_epoch_capped_mix_weighted",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, lang, text FROM documents WHERE doc_id IS NOT NULL
      UNION ALL
      SELECT doc_id + 1000000, lang, text FROM documents
      WHERE doc_id IS NOT NULL AND doc_id % 2 = 0
    ),
    d AS (
      SELECT doc_id, lang,
             CAST(len({_TOK}) AS BIGINT) AS n_ws_tokens,
             md5(text) AS dg
      FROM corpus
    ),
    cls AS (SELECT dg, count(*) AS n FROM d GROUP BY dg),
    wd AS MATERIALIZED (
      SELECT d.doc_id, d.lang, d.n_ws_tokens,
             round(1.0 / cls.n, 6) AS weight,
             CAST(round(round(1.0 / cls.n, 6) * 1000000, 0) AS BIGINT) AS mw
      FROM d JOIN cls USING (dg)
    ),
    {_waterfill_ctes(_WEB * 1_000_000, _WEEP, 8)},
    r AS (
      SELECT doc_id, lang, n_ws_tokens, weight,
             CAST(sum(mw * n_ws_tokens) OVER (PARTITION BY lang
                 ORDER BY ln(({_wepoch_hash} + 1) / 4294967296.0)
                          / CAST(mw AS DOUBLE) DESC,
                          doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS wtok_cum
      FROM wd
    ),
    fe AS (
      SELECT r.doc_id, r.lang, r.n_ws_tokens, r.weight, r.wtok_cum,
             CAST(e.e AS BIGINT) AS epoch
      FROM r JOIN plan q ON q.lang = r.lang,
           unnest(generate_series(0, q.eful - 1)) AS e(e)
    ),
    pe AS (
      SELECT r.doc_id, r.lang, r.n_ws_tokens, r.weight, r.wtok_cum,
             CAST(q.eful AS BIGINT) AS epoch
      FROM r JOIN plan q ON q.lang = r.lang
      WHERE q.erem > 0 AND r.wtok_cum <= q.erem
    )
    SELECT * FROM fe UNION ALL SELECT * FROM pe
    """,
)
def q_weighted_epoch_capped_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-dedup mass through the MULTI-EPOCH mixer (r19, VERDICT
    r18 item 2): a deterministic re-crawl doubles every even-id
    document; exact-digest classes carry dedup_soft_weights'
    1/|class| mass; sample_epoch_capped_mix(weight_col='weight')
    then accounts repetition caps, water-filled quotas AND the
    greedy partial-epoch fill in exact micro-weighted tokens — a
    duplicate class costs the budget ~one document's tokens per
    epoch while every copy stays in each full pass. T = 1/2
    over-draws the head language past the 2-epoch cap, so the
    water-filling redistribution is exercised, and the oracle
    re-derives the whole allocation independently in HUGEINT SQL
    (unrolled water-fill rounds — no pinned VALUES, unlike the
    r14 unweighted key)."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        dedup_soft_weights,
    )
    from build_datawarehouse_demo_spark.operators.sampling import (
        sample_epoch_capped_mix,
    )
    from build_datawarehouse_demo_spark.operators.text import token_count

    docs = (
        _t(spark, sf_dir, "documents", rebalance=False)
        .select("doc_id", "lang", "text")
        .where(F.col("doc_id").isNotNull())
    )
    recrawl = docs.where(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "lang", "text"
    )
    corpus = docs.unionByName(recrawl)
    dg = corpus.withColumn("__dg", F.md5("text"))
    comp = (
        dg.groupBy("__dg")
        .agg(F.min("doc_id").alias("component"))
        .join(dg, "__dg")
        .select(F.col("doc_id").alias("node"), "component")
    )
    soft = dedup_soft_weights(token_count(corpus), comp)
    return sample_epoch_capped_mix(
        soft,
        "lang",
        "doc_id",
        "n_ws_tokens",
        token_budget=_WEB,
        max_epochs=_WEEP,
        temperature=0.5,
        weight_col="weight",
    ).select(
        "doc_id", "lang", "n_ws_tokens", "weight", "wtok_cum", "epoch"
    )
