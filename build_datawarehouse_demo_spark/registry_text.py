"""Text-operator keys (``text_*``): tokenization, cleaning, language id,
quality and classifier scores, the Gopher and C4 rule batteries, PII
scrubbing, TF-IDF/BM25, chunking and packing, span removal and BPE
token counts. Hashes are md5-derived so DuckDB reproduces them
bit-for-bit; ratios are exact integer divisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.operators.text import (
    DEFAULT_BPE_MERGES,
    default_classifier_weights,
    GOPHER_STOPWORDS,
    PII_PATTERNS as _PII,
)
from build_datawarehouse_demo_spark.registry import register
from build_datawarehouse_demo_spark.registry_common import (
    _SPAN_W,
    _t,
    _TOK,
)


# ------------------------------------------------------------------
# text analysis
# ------------------------------------------------------------------

@register(
    "text_token_count",
    oracle=rf"""
    SELECT doc_id,
           CAST(len({_TOK}) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_re_tokens
    FROM documents
    """,
)
def q_tok_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from build_datawarehouse_demo_spark.operators.text import token_count

    return token_count(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_ws_tokens", "n_re_tokens"
    )


@register(
    "text_quality_score",
    oracle=rf"""
    WITH base AS (
      SELECT doc_id,
             CAST(len({_TOK}) AS DOUBLE) AS n_tok,
             CAST(length(text) AS DOUBLE) AS n_chars,
             CAST(len(list_filter({_TOK},
                  x -> lower(x) IN ('the','a','and','of','to','is'))) AS DOUBLE) AS n_stop,
             CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS DOUBLE) AS n_punct
      FROM documents
    ),
    derived AS (
      SELECT doc_id, n_tok,
             CASE WHEN n_tok > 0 THEN (n_chars - (n_tok - 1)) / n_tok ELSE 0.0 END AS avg_token_len,
             CASE WHEN n_tok > 0 THEN n_stop / n_tok ELSE 0.0 END AS stopword_ratio,
             CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END AS punct_ratio
      FROM base
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens, avg_token_len, stopword_ratio, punct_ratio,
           least(1.0, greatest(0.0,
             0.4 * (CASE WHEN avg_token_len >= 3 AND avg_token_len <= 8 THEN 1.0 ELSE 0.0 END)
             + 0.4 * stopword_ratio * 4
             + 0.2 * (1 - punct_ratio))) AS quality
    FROM derived
    """,
)
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from build_datawarehouse_demo_spark.operators.text import quality_score

    return quality_score(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_tokens", "avg_token_len", "stopword_ratio", "punct_ratio", "quality"
    )


@register(
    "text_lang_id",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS w FROM documents),
    hits AS (
      SELECT doc_id, 'de' AS lang, len(list_filter(w, x -> lower(x) IN ('der','die','das','und','ist','nicht'))) AS h FROM toks
      UNION ALL
      SELECT doc_id, 'en', len(list_filter(w, x -> lower(x) IN ('the','a','and','of','to','is'))) FROM toks
      UNION ALL
      SELECT doc_id, 'es', len(list_filter(w, x -> lower(x) IN ('el','la','y','es','los','que'))) FROM toks
      UNION ALL
      SELECT doc_id, 'fr', len(list_filter(w, x -> lower(x) IN ('le','la','et','est','les','des'))) FROM toks
      UNION ALL
      SELECT doc_id, 'zh', len(list_filter(w, x -> lower(x) IN ('de5','shi4','le5','zai4','he2','you3'))) FROM toks
    )
    SELECT doc_id,
           CASE WHEN h = 0 THEN 'und' ELSE lang END AS pred_lang,
           CAST(h AS BIGINT) AS marker_hits
    FROM hits
    QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, lang) = 1
    """,
)
def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from build_datawarehouse_demo_spark.operators.text import lang_id

    return lang_id(_t(spark, sf_dir, "documents")).select("doc_id", "pred_lang", "marker_hits")


@register(
    "text_clean_normalize",
    oracle=r"""
    SELECT doc_id,
           lower(trim(regexp_replace(
             regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
             '\s+', ' ', 'g'))) AS cleaned
    FROM documents
    """,
)
def q_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    # control-strip + whitespace-collapse + trim + lowercase — the
    # standard pre-tokenization cleanup, identical regex subset in
    # both engines.
    from build_datawarehouse_demo_spark.operators.text import clean_normalize

    return clean_normalize(_t(spark, sf_dir, "documents")).select("doc_id", "cleaned")


@register(
    "text_vocabulary",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lower(tok) AS tok
      FROM documents, unnest({_TOK}) AS t(tok)
    ),
    counts AS (
      SELECT tok, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
      FROM toks GROUP BY tok
    )
    SELECT tok AS token, n_occurrences, n_docs,
           CAST(row_number() OVER (ORDER BY n_occurrences DESC, tok) AS INTEGER) AS rank
    FROM counts
    QUALIFY rank <= 100
    """,
)
def q_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    # top-N vocabulary with doc frequency: partial-agg token counts,
    # TakeOrdered top-N (no global window over the full vocab).
    from build_datawarehouse_demo_spark.operators.text import vocabulary

    return vocabulary(_t(spark, sf_dir, "documents"), top_n=100)


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({_TOK})), chr(1))) AS fingerprint
    FROM documents
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from build_datawarehouse_demo_spark.operators.text import fingerprint

    return fingerprint(_t(spark, sf_dir, "documents")).select("doc_id", "fingerprint")


@register(
    "text_repetition_score",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS w FROM documents),
    g AS (
      SELECT doc_id,
             [w[i] || ' ' || w[i + 1] FOR i IN generate_series(1, len(w) - 1)] AS grams
      FROM tok
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_ngrams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct_ngrams,
           CASE WHEN len(grams) > 0
                THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
                ELSE 0.0 END AS dup_ngram_ratio
    FROM g
    """,
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Gopher-style repeated-bigram filter for LLM corpora.
    from build_datawarehouse_demo_spark.operators.text import repetition_score

    return repetition_score(_t(spark, sf_dir, "documents"), n=2).select(
        "doc_id", "n_ngrams", "n_distinct_ngrams", "dup_ngram_ratio"
    )


# each pattern counted on the text AFTER earlier scrubs (mirrors
# operators/text.py:scrub_pii — counts == placeholders written)
_pii_count_exprs = []
_pii_scrub_sql = "text"

for _name, _pat, _repl in _PII:
    _pii_count_exprs.append(
        f"CAST(len(regexp_extract_all({_pii_scrub_sql}, '{_pat}')) AS BIGINT) AS n_{_name}"
    )
    _pii_scrub_sql = f"regexp_replace({_pii_scrub_sql}, '{_pat}', '{_repl}', 'g')"
_pii_counts_sql = ", ".join(_pii_count_exprs)


@register(
    "text_scrub_pii",
    oracle=f"""
    SELECT doc_id, {_pii_counts_sql}, {_pii_scrub_sql} AS scrubbed
    FROM documents
    """,
)
def q_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    # PII scrub + per-kind audit counts; patterns restricted to the
    # Java-regex ∩ RE2 subset so both engines apply the same scrub.
    from build_datawarehouse_demo_spark.operators.text import scrub_pii

    return scrub_pii(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_email", "n_ssn", "n_ipv4", "scrubbed"
    )


@register(
    "text_tfidf_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lower(tok) AS tok
      FROM documents, unnest({_TOK}) AS t(tok)
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT tok, count(*) AS doc_freq FROM tf GROUP BY 1),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.tok, tf.tf, dfreq.doc_freq,
             ln(n.n_docs / dfreq.doc_freq) AS idf,
             tf.tf * ln(n.n_docs / dfreq.doc_freq) AS tfidf
      FROM tf JOIN dfreq USING (tok) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, tok, tf, doc_freq, idf, tfidf,
             CAST(row_number() OVER (PARTITION BY doc_id
                  ORDER BY tfidf DESC, tok) AS INTEGER) AS rank
      FROM scored
    )
    SELECT doc_id, tok AS token, tf, doc_freq,
           round(idf, 6) AS idf, round(tfidf, 6) AS tfidf, rank
    FROM ranked WHERE rank <= 5
    """,
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # top-5 TF-IDF terms per document — one tokenization pass feeds
    # both the tf and the df aggregates (operators/text.py:tf_idf).
    from build_datawarehouse_demo_spark.operators.text import tf_idf

    return tf_idf(_t(spark, sf_dir, "documents"), top_k=5)


@register(
    "text_bm25_topk",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lower(tok) AS tok
      FROM documents, unnest({_TOK}) AS t(tok)
    ),
    dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY 1),
    tf AS (
      SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM toks
      WHERE tok IN ('fast', 'join', 'query', 'spark', 'table')
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT tok, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
    avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
    scored AS (
      SELECT tf.doc_id,
             sum(ln((n.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
                 * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl.avgdl))
             ) AS score
      FROM tf JOIN dfreq USING (tok) JOIN dl USING (doc_id)
      CROSS JOIN n CROSS JOIN avgdl
      GROUP BY 1
    )
    SELECT doc_id, round(score, 6) AS bm25
    FROM scored ORDER BY score DESC, doc_id LIMIT 20
    """,
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    # BM25 top-20 against a literal query (operators/text.py:
    # bm25_topk — k1=1.2, b=0.75, so tf*(k1+1) is the 2.2 in the
    # oracle). Query-term filter precedes the tf aggregation.
    from build_datawarehouse_demo_spark.operators.text import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"),
        ["fast", "join", "query", "spark", "table"],
        k=20,
    )


@register(
    "text_lm_bigram_logprob",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, list_transform({_TOK}, x -> lower(x)) AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             [w[i] || ' ' || w[i + 1] FOR i IN generate_series(1, len(w) - 1)] AS grams
      FROM tok
    ),
    bi AS (SELECT doc_id, gram FROM g, unnest(grams) AS t(gram)),
    c2 AS (SELECT gram, CAST(count(*) AS DOUBLE) AS c2 FROM bi GROUP BY 1),
    c1 AS (
      SELECT split_part(gram, ' ', 1) AS w1, sum(c2) AS c1
      FROM c2 GROUP BY 1
    )
    SELECT bi.doc_id, count(*) AS n_bigrams,
           round(avg(ln(c2.c2 / c1.c1)), 6) AS avg_logprob
    FROM bi
    JOIN c2 USING (gram)
    JOIN c1 ON split_part(bi.gram, ' ', 1) = c1.w1
    GROUP BY bi.doc_id
    """,
)
def q_lm_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # perplexity-style corpus self-scoring: mean ln P(w2|w1) under
    # the corpus MLE bigram model (operators/text.py:
    # lm_bigram_logprob) — one bigram explode feeds both the doc
    # rows and the model tables.
    from build_datawarehouse_demo_spark.operators.text import lm_bigram_logprob

    return lm_bigram_logprob(_t(spark, sf_dir, "documents"))


# chunking params shared by the op call and the oracle text
_CHUNK, _OVERLAP = 32, 8
_STEP = _CHUNK - _OVERLAP


@register(
    "text_chunk_documents",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOK} AS w FROM documents),
    starts AS (
      SELECT doc_id, w, unnest(range(0, len(w), {_STEP})) AS s
      FROM toks WHERE len(w) > 0
    )
    SELECT doc_id,
           CAST(s // {_STEP} AS BIGINT) AS chunk_id,
           array_to_string(w[s + 1 : s + {_CHUNK}], ' ') AS chunk_text,
           CAST(least({_CHUNK}, len(w) - s) AS BIGINT) AS n_chunk_tokens
    FROM starts
    """,
)
def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # sliding token-window chunking (context-window prep): tokenize
    # once, posexplode start offsets — no shuffle, chunks stay on
    # the parent document's partition.
    from build_datawarehouse_demo_spark.operators.text import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_size=_CHUNK, overlap=_OVERLAP
    )


_PACK_CTX, _PACK_SHARDS = 256, 8


@register(
    "text_pack_sequences",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
             CAST(doc_id % {_PACK_SHARDS} AS BIGINT) AS shard,
             CAST(coalesce(len({_TOK}), 0) AS BIGINT) AS n_tokens
      FROM documents
    ),
    off AS (
      SELECT *,
             CAST(coalesce(sum(n_tokens) OVER (
                 PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset,
             CAST(coalesce(sum(n_tokens) OVER (
                 PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  + greatest(n_tokens, 1) - 1 AS BIGINT) AS last_off
      FROM base
    )
    SELECT doc_id, shard, n_tokens, start_offset,
           CAST(start_offset // {_PACK_CTX} AS BIGINT) AS start_seq,
           CAST(last_off // {_PACK_CTX} AS BIGINT) AS end_seq,
           CAST(last_off // {_PACK_CTX} - start_offset // {_PACK_CTX} + 1 AS BIGINT) AS n_seqs
    FROM off
    """,
)
def q_pack_seqs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # concat-and-cut packing layout, sharded so each running sum is
    # an independent per-shard window (one shuffle on shard), not a
    # single-task global order.
    from build_datawarehouse_demo_spark.operators.text import pack_sequences

    return pack_sequences(
        _t(spark, sf_dir, "documents"), ctx=_PACK_CTX, shards=_PACK_SHARDS
    )


# Second round-6 batch: pipeline decontamination + classic
# event-analytics operators (rolling time windows, funnels, retention
# cohorts, exact grouped percentiles, unpivot).
# ------------------------------------------------------------------
# training-pipeline: benchmark decontamination (n-gram overlap)
# ------------------------------------------------------------------

@register(
    "text_decontaminate",
    oracle=r"""
    WITH w AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, greatest(len(toks) - 2, 0)),
                 i -> array_to_string(toks[i:i+2], ' '))) AS gram
        FROM w
      )
    ),
    bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
    hits AS (
      SELECT g.doc_id, count(*) AS n_hits
      FROM g JOIN bg USING (gram)
      WHERE g.doc_id % 50 <> 0
      GROUP BY g.doc_id
    )
    SELECT d.doc_id,
           coalesce(h.n_hits, 0) AS n_hits,
           CAST(coalesce(h.n_hits, 0) > 0 AS INTEGER) AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
    LEFT JOIN hits h ON h.doc_id = d.doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3/PaLM-style n-gram decontamination (operators/text.py:
    decontaminate): docs with doc_id % 50 == 0 act as the held-out
    benchmark, the rest as the training corpus; n=3 because the
    synthetic vocab is 31 words (real pipelines use 8-13 — the n
    is a parameter, the plan shape is identical)."""
    from build_datawarehouse_demo_spark.operators.text import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 50 == 0)
    train = docs.where(F.col("doc_id") % 50 != 0)
    return decontaminate(train, bench, n=3)


@register(
    "text_remove_duplicate_spans",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(i AS INTEGER) AS pos,
             md5(array_to_string(t[i:i+{_SPAN_W - 1}], ' ')) AS g
      FROM toks, unnest(generate_series(1, len(t) - {_SPAN_W - 1})) AS s(i)
      WHERE len(t) >= {_SPAN_W}
    ),
    owners AS (
      SELECT g, min(doc_id) AS owner FROM grams
      GROUP BY g HAVING count(DISTINCT doc_id) >= 2
    ),
    removals AS (
      -- foreign-owned cover MINUS self-owned cover: a span's owner
      -- keeps that span intact even where a foreign-owned span
      -- overlaps it (the protection clause of the operator contract)
      SELECT DISTINCT gr.doc_id, gr.pos + q.off AS idx
      FROM grams gr
      JOIN owners o ON o.g = gr.g AND gr.doc_id <> o.owner,
           unnest(generate_series(0, {_SPAN_W - 1})) AS q(off)
      EXCEPT
      SELECT DISTINCT gr.doc_id, gr.pos + q.off AS idx
      FROM grams gr
      JOIN owners o ON o.g = gr.g AND gr.doc_id = o.owner,
           unnest(generate_series(0, {_SPAN_W - 1})) AS q(off)
    ),
    stream AS (
      SELECT doc_id, CAST(i AS INTEGER) AS idx, t[i] AS tok
      FROM toks, unnest(generate_series(1, len(t))) AS s(i)
    ),
    kept AS (
      SELECT s.doc_id,
             array_to_string(list(s.tok ORDER BY s.idx), ' ') AS cleaned_text,
             count(*) AS kept
      FROM stream s
      LEFT JOIN removals r ON r.doc_id = s.doc_id AND r.idx = s.idx
      WHERE r.idx IS NULL
      GROUP BY s.doc_id
    )
    SELECT b.doc_id,
           COALESCE(k.cleaned_text, '') AS cleaned_text,
           CAST(len(b.t) AS BIGINT) AS n_tokens,
           CAST(len(b.t) - COALESCE(k.kept, 0) AS BIGINT) AS n_tokens_removed
    FROM toks b LEFT JOIN kept k USING (doc_id)
    """,
)
def q_remove_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span REMOVAL — the acting half of the Lee-et-al pipeline:
    each doc rebuilt with duplicated {_SPAN_W}-token spans cut out,
    except in the span's global owner (min doc_id) — and a doc's
    self-owned spans are PROTECTED from overlapping foreign-owned
    spans — so one intact copy of every duplicated passage
    survives corpus-wide."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    return remove_duplicate_spans(
        _t(spark, sf_dir, "documents"), window=_SPAN_W, min_docs=2
    )


# ------------------------------------------------------------------
# BPE subword token counting (VERDICT r8 item 3): the pinned merge
# table (tools/train_bpe.py over the fixture corpus) applied as a
# chain of LITERAL regex replaces — the oracle REPLAYS the same
# chain in DuckDB (RE2 and Java regex agree exactly on literal
# patterns and global leftmost non-overlapping replacement), so the
# whole merge procedure is verified independently, not pinned.
# ------------------------------------------------------------------
enc = (
    "'  ' || array_to_string(list_transform(" + _TOK + ", "
    "w -> array_to_string(string_split(replace(lower(w), '|', ''), ''), '  ')"
    "), '  |  ') || '  '"
)

for a, b in DEFAULT_BPE_MERGES:
    enc = f"regexp_replace({enc}, ' {a}  {b} ', ' {a}{b} ', 'g')"


@register(
    "text_token_count_bpe",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOK}) AS BIGINT) AS n_ws_tokens,
           CAST(len(list_filter(string_split(trim({enc}), '  '),
                    x -> x <> '' AND x <> '|')) AS BIGINT) AS n_bpe_tokens
    FROM documents
    """,
)
def q_bpe_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword token count under the pinned 48-rule BPE table:
    lowercase words -> characters double-space-joined -> one
    literal regexp_replace per merge rule (table order; each pass
    is the engine's leftmost non-overlapping global replace = the
    standard left-to-right merge scan) -> surviving symbol count.
    Whitespace count rides alongside for the under-count
    comparison. Pure codegen'd expressions; linear, shuffle-free."""
    from build_datawarehouse_demo_spark.operators.text import bpe_token_count

    return bpe_token_count(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_ws_tokens", "n_bpe_tokens"
    )


@register(
    "text_perplexity_buckets",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, list_transform({_TOK}, x -> lower(x)) AS w
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             [w[i] || ' ' || w[i + 1] FOR i IN generate_series(1, len(w) - 1)] AS grams
      FROM tok
    ),
    bi AS (SELECT doc_id, gram FROM g, unnest(grams) AS t(gram)),
    c2 AS (SELECT gram, CAST(count(*) AS DOUBLE) AS c2 FROM bi GROUP BY 1),
    c1 AS (
      SELECT split_part(gram, ' ', 1) AS w1, sum(c2) AS c1
      FROM c2 GROUP BY 1
    ),
    lm AS (
      SELECT bi.doc_id, count(*) AS n_bigrams,
             round(avg(ln(c2.c2 / c1.c1)), 6) AS avg_logprob
      FROM bi
      JOIN c2 USING (gram)
      JOIN c1 ON split_part(bi.gram, ' ', 1) = c1.w1
      GROUP BY bi.doc_id
    ),
    ppl AS (
      SELECT doc_id, n_bigrams, avg_logprob,
             round(exp(-avg_logprob), 6) AS perplexity
      FROM lm
    ),
    cuts AS (
      SELECT round(quantile_cont(perplexity, 1.0/3.0), 6) AS p33,
             round(quantile_cont(perplexity, 2.0/3.0), 6) AS p66
      FROM ppl
    )
    SELECT doc_id, n_bigrams, avg_logprob, perplexity,
           CASE WHEN perplexity <= p33 THEN 'head'
                WHEN perplexity <= p66 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ppl, cuts
    """,
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity terciles (Wenzek et al.,
    LREC 2020) under the corpus's own bigram LM
    (operators/text.py:perplexity_buckets): exp(-mean logprob) from
    the 6dp-rounded mean, cutoffs = exact interpolated terciles
    broadcast back as comparators — never a corpus-wide ntile
    window."""
    from build_datawarehouse_demo_spark.operators.text import perplexity_buckets

    return perplexity_buckets(_t(spark, sf_dir, "documents"))


# ------------------------------------------------------------------
# linear quality classifier (the fastText/LR document filter of
# GPT-3 / CCNet): hashed bag-of-words features, length-normalized,
# dot with a pinned weight vector, sigmoid, threshold. The weights
# are the documented deterministic stand-in (no model weights in
# the sandbox); the oracle replays features, dot, sigmoid and
# verdict in SQL at the same literals.
# ------------------------------------------------------------------
_QC_DIM, _QC_THRESH = 64, 0.5
_QC_W = default_classifier_weights(_QC_DIM)
_w_sql = "[" + ", ".join(repr(w) for w in _QC_W) + "]"
_h32_tok = "CAST(('0x' || substr(md5('0:' || t), 1, 8)) AS BIGINT)"


@register(
    "text_quality_classifier",
    oracle=f"""
    WITH d AS (SELECT doc_id, {_TOK} AS w FROM documents),
    f AS (
      SELECT doc_id, CAST(len(w) AS BIGINT) AS n_ws_tokens,
             list_transform(range(0, {_QC_DIM}), i ->
               CAST(len(list_filter(w, t -> {_h32_tok} % {_QC_DIM} = i))
                 AS DOUBLE)) AS feat
      FROM d
    ),
    s AS (
      SELECT doc_id, n_ws_tokens,
             CASE WHEN n_ws_tokens > 0 THEN
               round(1.0 / (1.0 + exp(-(
                 list_dot_product(feat, {_w_sql}) / n_ws_tokens))), 6)
             END AS clf_score
      FROM f
    )
    SELECT doc_id, n_ws_tokens, clf_score,
           clf_score >= {_QC_THRESH} AS kept
    FROM s
    """,
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier
    (operators/text.py:quality_classifier_score): md5-hashed
    bag-of-words buckets, length-normalized, pinned stand-in
    weights, sigmoid + 0.5 threshold — features, dot, sigmoid and
    verdict all replayed by the oracle at the same literals.
    Zero-token documents score NULL (no features = no verdict)."""
    from build_datawarehouse_demo_spark.operators.text import (
        quality_classifier_score,
    )

    return quality_classifier_score(
        _t(spark, sf_dir, "documents"), dim=_QC_DIM, threshold=_QC_THRESH
    )


# ------------------------------------------------------------------
# the Gopher rule set (Rae et al. 2021, Appendix A1.1.3) — the
# published heuristic battery most large-corpus pipelines start
# from, as ONE codegen'd scan; every ratio an exact integer/integer
# division, every rule a boolean both engines restate.
# ------------------------------------------------------------------
_stop_sql = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"


@register(
    "text_gopher_rules",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text, {_TOK} AS w,
             list_filter(string_split(text, chr(10)), l -> trim(l) <> '')
               AS lines
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             len(w) AS n,
             greatest(len(lines), 1) AS nl,
             round(CAST(list_sum(list_transform(w, t -> len(t)))
                   AS DOUBLE) / len(w), 6) AS mean_word_len,
             (len(text) - len(replace(text, '#', ''))
              + (len(text) - len(replace(text, '...', ''))) / 3)
               AS n_sym,
             len(list_filter(lines, l ->
               ltrim(l) LIKE '-%' OR ltrim(l) LIKE '*%')) AS n_bullet,
             len(list_filter(lines, l -> rtrim(l) LIKE '%...'))
               AS n_ell_lines,
             len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))
               AS n_alpha,
             CAST(len(list_intersect(
               list_distinct(list_transform(w, t -> lower(t))),
               {_stop_sql})) AS BIGINT) AS stopword_hits
      FROM d
    ),
    r AS (
      SELECT doc_id, n_words,
             CASE WHEN n > 0 THEN mean_word_len END AS mean_word_len,
             CASE WHEN n > 0
                  THEN round(CAST(n_sym AS DOUBLE) / n, 6) END
               AS symbol_word_ratio,
             round(CAST(n_bullet AS DOUBLE) / nl, 6) AS bullet_line_ratio,
             round(CAST(n_ell_lines AS DOUBLE) / nl, 6)
               AS ellipsis_line_ratio,
             CASE WHEN n > 0
                  THEN round(CAST(n_alpha AS DOUBLE) / n, 6) END
               AS alpha_word_ratio,
             stopword_hits, n
      FROM m
    )
    SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
           bullet_line_ratio, ellipsis_line_ratio, alpha_word_ratio,
           stopword_hits,
           (n > 0 AND n BETWEEN 50 AND 100000) AS rule_word_count,
           (n > 0 AND mean_word_len BETWEEN 3.0 AND 10.0)
             AS rule_mean_word_len,
           (n > 0 AND symbol_word_ratio <= 0.1) AS rule_symbol_ratio,
           (bullet_line_ratio <= 0.9) AS rule_bullet_lines,
           (ellipsis_line_ratio <= 0.3) AS rule_ellipsis_lines,
           (n > 0 AND alpha_word_ratio >= 0.8) AS rule_alpha_words,
           (stopword_hits >= 2) AS rule_stopwords,
           ((n > 0 AND n BETWEEN 50 AND 100000)
            AND (n > 0 AND mean_word_len BETWEEN 3.0 AND 10.0)
            AND (n > 0 AND symbol_word_ratio <= 0.1)
            AND (bullet_line_ratio <= 0.9)
            AND (ellipsis_line_ratio <= 0.3)
            AND (n > 0 AND alpha_word_ratio >= 0.8)
            AND (stopword_hits >= 2)) AS kept
    FROM r
    """,
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher quality-filter rule battery
    (operators/text.py:gopher_quality_rules — Rae et al. 2021
    Appendix A1.1.3 thresholds): word-count bounds, mean word
    length, symbol-to-word ratio (# + ellipsis), bullet /
    ellipsis line fractions, alphabetic-word fraction, distinct
    stopword hits — per-document metrics, per-rule booleans and
    the conjunction verdict, all in one codegen'd scan with the
    oracle restating every ratio as the same exact integer
    division."""
    from build_datawarehouse_demo_spark.operators.text import (
        gopher_quality_rules,
    )

    return gopher_quality_rules(_t(spark, sf_dir, "documents"))


# ------------------------------------------------------------------
# C4 line-level cleaning (Raffel et al. 2020 section 2.2) — the
# line filters that run BEFORE the doc-level batteries (Gopher),
# as ONE codegen'd scan; the oracle restates every line predicate,
# the rejoin, the replace-chain sentence count and the page
# verdict in DuckDB.
# ------------------------------------------------------------------
@register(
    "text_c4_line_filters",
    oracle=r"""
    WITH d AS (
      SELECT doc_id, text, string_split(text, chr(10)) AS lines
      FROM documents
    ),
    k AS (
      SELECT doc_id, text, lines,
             list_filter(lines, l ->
               regexp_matches(rtrim(l), '[.!?"]$')
               AND len(list_filter(
                     regexp_split_to_array(trim(l), '\s+'),
                     w -> w <> '')) >= 5
               AND NOT contains(lower(l), 'javascript')) AS keptl
      FROM d
    ),
    c AS (
      -- array_to_string([]) is NULL in DuckDB while Spark's
      -- array_join([]) is '' — coalesce so the all-lines-dropped
      -- document (the common case on the punctuation-free
      -- fixture) matches the engine's empty string
      SELECT doc_id, text, lines, keptl,
             CASE WHEN text IS NULL THEN NULL
                  ELSE coalesce(array_to_string(keptl, chr(10)), '')
             END AS cleaned
      FROM k
    ),
    m AS (
      SELECT doc_id, text, cleaned,
             CAST(len(keptl) AS BIGINT) AS n_lines_kept,
             CAST(len(lines) - len(keptl) AS BIGINT) AS n_lines_dropped,
             CAST(len(cleaned)
                  - len(replace(replace(replace(cleaned, '.', ''),
                                '!', ''), '?', '')) AS BIGINT)
               AS n_sentences,
             contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
             contains(text, '{') AS has_brace
      FROM c
    )
    SELECT doc_id, cleaned, n_lines_kept, n_lines_dropped, n_sentences,
           has_lorem_ipsum, has_brace,
           coalesce(text IS NOT NULL AND NOT has_lorem_ipsum
                    AND NOT has_brace AND n_sentences >= 3, FALSE)
             AS kept
    FROM m
    """,
)
def q_c4_line_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (operators/text.py:c4_line_filters —
    Raffel et al. 2020 section 2.2): keep lines ending in terminal
    punctuation with >= 5 words and no 'javascript'; drop pages
    containing 'lorem ipsum' or '{' or carrying < 3 sentences in
    the kept text. Per-document cleaned text, line keep/drop
    counts, sentence count, page flags and the verdict — one
    codegen'd scan, every rule restated by the oracle."""
    from build_datawarehouse_demo_spark.operators.text import c4_line_filters

    return c4_line_filters(_t(spark, sf_dir, "documents"))


# ------------------------------------------------------------------
# the Gopher repetitious-text battery (Rae et al. 2021, Appendix
# A1.1.2) — dup line/para count+char fractions and top-2/3/4-gram
# char fractions, all from ONE codegen'd scan (run-length fold over
# the sorted gram array, no explode). The oracle restates the mode
# with a group-by + ORDER BY count DESC, gram ASC tie-break — the
# exact tie the fold's strict-> update keeps (VERDICT r10 item 1).
# ------------------------------------------------------------------
@register(
    "text_gopher_repetition",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id, {_TOK} AS w,
             list_filter(string_split(text, chr(10)),
                         l -> trim(l) <> '') AS lines,
             list_filter(regexp_split_to_array(text, '\n{{2,}}'),
                         p -> trim(p) <> '') AS paras
      FROM documents
    ),
    dup AS (
      SELECT doc_id,
             CAST(len(array_to_string(w, ' ')) AS BIGINT) AS norm_len,
             len(lines) AS nl,
             len(lines) - len(list_distinct(lines)) AS nl_dup,
             coalesce(list_sum(list_transform(lines, x -> len(x))), 0)
               AS lc,
             coalesce(list_sum(list_transform(list_distinct(lines),
                                              x -> len(x))), 0) AS lc1,
             len(paras) AS np,
             len(paras) - len(list_distinct(paras)) AS np_dup,
             coalesce(list_sum(list_transform(paras, x -> len(x))), 0)
               AS pc,
             coalesce(list_sum(list_transform(list_distinct(paras),
                                              x -> len(x))), 0) AS pc1
      FROM d
    ),
    grams AS (
      SELECT doc_id, n.n AS n,
             array_to_string(w[i.i : i.i + n.n - 1], ' ') AS gram
      FROM d,
           unnest([2, 3, 4]) AS n(n),
           unnest(generate_series(1, len(w) - n.n + 1)) AS i(i)
      WHERE len(w) >= n.n
    ),
    counted AS (
      SELECT doc_id, n, gram, count(*) AS c
      FROM grams GROUP BY doc_id, n, gram
    ),
    best AS (
      SELECT doc_id, n, gram, c,
             row_number() OVER (PARTITION BY doc_id, n
                                ORDER BY c DESC, gram ASC) AS rk
      FROM counted
    ),
    tg AS (
      SELECT doc_id,
             max(CASE WHEN n = 2 THEN c * len(gram) END) AS t2,
             max(CASE WHEN n = 3 THEN c * len(gram) END) AS t3,
             max(CASE WHEN n = 4 THEN c * len(gram) END) AS t4
      FROM best WHERE rk = 1 GROUP BY doc_id
    ),
    m AS (
      SELECT dup.doc_id,
             CASE WHEN nl > 0
                  THEN round(CAST(nl_dup AS DOUBLE) / nl, 6) END
               AS dup_line_frac,
             CASE WHEN nl > 0
                  THEN round(CAST(lc - lc1 AS DOUBLE) / lc, 6) END
               AS dup_line_char_frac,
             CASE WHEN np > 0
                  THEN round(CAST(np_dup AS DOUBLE) / np, 6) END
               AS dup_para_frac,
             CASE WHEN np > 0
                  THEN round(CAST(pc - pc1 AS DOUBLE) / pc, 6) END
               AS dup_para_char_frac,
             round(CAST(t2 AS DOUBLE) / norm_len, 6)
               AS top_2gram_char_frac,
             round(CAST(t3 AS DOUBLE) / norm_len, 6)
               AS top_3gram_char_frac,
             round(CAST(t4 AS DOUBLE) / norm_len, 6)
               AS top_4gram_char_frac
      FROM dup LEFT JOIN tg USING (doc_id)
    )
    SELECT doc_id, dup_line_frac, dup_line_char_frac, dup_para_frac,
           dup_para_char_frac, top_2gram_char_frac, top_3gram_char_frac,
           top_4gram_char_frac,
           coalesce(dup_line_frac <= 0.30, TRUE) AS rule_dup_line_frac,
           coalesce(dup_line_char_frac <= 0.20, TRUE)
             AS rule_dup_line_char_frac,
           coalesce(dup_para_frac <= 0.30, TRUE) AS rule_dup_para_frac,
           coalesce(dup_para_char_frac <= 0.20, TRUE)
             AS rule_dup_para_char_frac,
           coalesce(top_2gram_char_frac <= 0.20, TRUE)
             AS rule_top_2gram_char_frac,
           coalesce(top_3gram_char_frac <= 0.18, TRUE)
             AS rule_top_3gram_char_frac,
           coalesce(top_4gram_char_frac <= 0.16, TRUE)
             AS rule_top_4gram_char_frac,
           (coalesce(dup_line_frac <= 0.30, TRUE)
            AND coalesce(dup_line_char_frac <= 0.20, TRUE)
            AND coalesce(dup_para_frac <= 0.30, TRUE)
            AND coalesce(dup_para_char_frac <= 0.20, TRUE)
            AND coalesce(top_2gram_char_frac <= 0.20, TRUE)
            AND coalesce(top_3gram_char_frac <= 0.18, TRUE)
            AND coalesce(top_4gram_char_frac <= 0.16, TRUE)) AS kept
    FROM m
    """,
)
def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher repetitious-text battery
    (operators/text.py:gopher_repetition_rules — Rae et al. 2021
    Appendix A1.1.2 thresholds): duplicate line / paragraph count
    and character fractions plus top word-2/3/4-gram character
    fractions, per-rule booleans and the conjunction verdict —
    one codegen'd scan (sorted-array run-length fold for the
    per-document mode, no explode/groupBy), with the oracle
    restating the mode as GROUP BY + ORDER BY count DESC, gram
    ASC and every fraction as the same exact integer division."""
    from build_datawarehouse_demo_spark.operators.text import (
        gopher_repetition_rules,
    )

    return gopher_repetition_rules(_t(spark, sf_dir, "documents"))


# ------------------------------------------------------------------
# the OTHER half of the Gopher repetition battery (Rae et al. 2021
# A1.1.2): duplicate n-gram character fractions for n = 5..10 at
# the paper's thresholds — r11's battery covered dup lines/paras +
# top 2/3/4-grams and documented this half as a gap; this entry
# closes it. The fixture corpus has ZERO duplicate 5..10-grams
# (measured), so the entry plants deterministic repetition — doc_id
# % 4 copies of the first 12 tokens appended — restated verbatim by
# the oracle (the pageify discipline), giving fractions that vary
# from 0 to past every threshold.
# ------------------------------------------------------------------
_NS = (5, 6, 7, 8, 9, 10)
_CAPS = (0.15, 0.14, 0.13, 0.12, 0.11, 0.10)

metric_sql = ",\n               ".join(
    f"CASE WHEN max(CASE WHEN n = {n} THEN 1 END) = 1 THEN "
    f"round(CAST(coalesce(max(CASE WHEN n = {n} THEN dc END), 0) "
    f"AS DOUBLE) / any_value(norm_len), 6) END AS dup_{n}gram_char_frac"
    for n in _NS
)

rule_sql = ",\n               ".join(
    f"coalesce(dup_{n}gram_char_frac <= {cap}, TRUE) "
    f"AS rule_dup_{n}gram_char_frac"
    for n, cap in zip(_NS, _CAPS)
)

kept_sql = " AND ".join(
    f"coalesce(dup_{n}gram_char_frac <= {cap}, TRUE)"
    for n, cap in zip(_NS, _CAPS)
)


@register(
    "text_gopher_dup_ngrams",
    oracle=rf"""
    WITH d0 AS (SELECT doc_id, {_TOK} AS w FROM documents),
    d AS (
      SELECT doc_id,
             list_concat(w, flatten(list_transform(
               range(0, CAST(doc_id % 4 AS INT)), i -> w[1:12]))) AS w
      FROM d0
    ),
    m AS (
      SELECT doc_id, w,
             CAST(len(array_to_string(w, ' ')) AS BIGINT) AS norm_len
      FROM d
    ),
    g AS (
      SELECT doc_id, norm_len, n.n AS n,
             array_to_string(w[i.i : i.i + n.n - 1], ' ') AS gram
      FROM m, unnest([5, 6, 7, 8, 9, 10]) AS n(n),
           unnest(generate_series(1, len(w) - n.n + 1)) AS i(i)
      WHERE len(w) >= n.n
    ),
    c AS (
      SELECT doc_id, norm_len, n, gram, count(*) AS cnt
      FROM g GROUP BY ALL
    ),
    dup AS (
      SELECT doc_id, any_value(norm_len) AS norm_len, n,
             sum(CASE WHEN cnt >= 2 THEN cnt * len(gram) END) AS dc
      FROM c GROUP BY doc_id, n
    ),
    met AS (
      SELECT doc_id,
           {metric_sql}
      FROM dup GROUP BY doc_id
    )
    -- rooted on d (all docs) with a LEFT JOIN, not on met: a doc
    -- with fewer than 5 tokens has no g rows at all, so it never
    -- reaches met — but the engine still emits it with all-NULL
    -- metrics and kept=TRUE. Every fixture doc happens to have
    -- >= 5 tokens today, so met-rooting matched by luck (r12
    -- ADVICE); the LEFT JOIN makes short docs agree by design.
    SELECT d.doc_id,
           {", ".join(f"dup_{n}gram_char_frac" for n in _NS)},
           {rule_sql},
           ({kept_sql}) AS kept
    FROM d LEFT JOIN met ON d.doc_id = met.doc_id
    """,
)
def q_gopher_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate word-n-gram character fractions for n = 5..10 at
    Gopher's thresholds (operators/text.py:gopher_dup_ngram_rules)
    over the repetition-planted fixture view: per-document linear
    run-length folds over sorted gram arrays (no explode, no
    groupBy — same one-scan shape as text_gopher_repetition); the
    oracle restates the planting, the occurrence-count numerator
    (GROUP BY + count >= 2) and every exact integer division."""
    from build_datawarehouse_demo_spark.operators.text import (
        gopher_dup_ngram_rules,
        tokens,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    w = tokens("text")
    planted = docs.select(
        "doc_id",
        F.array_join(
            F.concat(
                w,
                F.flatten(
                    F.array_repeat(
                        F.slice(w, 1, 12),
                        (F.col("doc_id") % 4).cast("int"),
                    )
                ),
            ),
            " ",
        ).alias("text"),
    )
    return gopher_dup_ngram_rules(planted)
