"""JVM expression-chain references for the package's fused kernels.

Each function here rebuilds, from the package's public expression
operators, the plain Spark SQL plan that one Arrow/numpy kernel
replaces. The ``*_kernel(s)_identical*`` tests compare each kernel
with its reference row for row, so a kernel change that alters a
single value fails loudly. The package itself ships one kernel per
operator; these chains exist only as the equivalence oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.operators.dedup import hash32
from build_datawarehouse_demo_spark.operators.similarity import _as_double, cosine
from build_datawarehouse_demo_spark.operators.text import (
    c4_line_filters,
    clean_normalize,
    gopher_quality_rules,
    gopher_repetition_rules,
    lang_id,
    quality_classifier_score,
    quality_score,
)


def featured_survivors(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int,
    min_quality: float,
) -> DataFrame:
    """Reference of ``plans.training_data._featured_survivors``:
    clean -> langid -> quality -> keep-filter -> exact dedup (min id
    per md5(cleaned))."""
    featured = quality_score(lang_id(clean_normalize(df, text_col), text_col), text_col)
    kept = featured.filter(
        (F.col("n_tokens") >= min_tokens)
        & (F.col("quality") >= min_quality)
        & (F.col("pred_lang") != "und")
    )
    digest_w = Window.partitionBy(F.md5(F.col("cleaned")))
    return (
        kept.withColumn("__keep", F.min(id_col).over(digest_w))
        .filter(F.col(id_col) == F.col("__keep"))
        .select(id_col, "cleaned", "pred_lang", "n_tokens", "quality")
    )


def clean_filter_survivors(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
    min_words: int = 50,
    min_stopword_hits: int = 2,
    max_top_gram_char_frac: tuple[float, float, float] = (0.20, 0.18, 0.16),
    clf_dim: int = 64,
    clf_weights: list[float] | None = None,
    clf_threshold: float = 0.5,
) -> DataFrame:
    """Reference of ``plans.training_data.clean_filter_survivors``:
    the four batteries chained, each keeping its ``kept`` rows (a NULL
    verdict drops, as the oracle's WHERE does)."""

    def keep(battery: DataFrame, *out_cols: str) -> DataFrame:
        return battery.filter(F.col("kept")).select(id_col, "cleaned", *out_cols)

    c4 = keep(
        c4_line_filters(
            df,
            text_col,
            id_col,
            min_words_per_line=min_words_per_line,
            min_sentences=min_sentences,
        )
    )
    gq = keep(
        gopher_quality_rules(
            c4,
            "cleaned",
            id_col,
            min_words=min_words,
            min_stopword_hits=min_stopword_hits,
            passthrough=("cleaned",),
        )
    )
    gr = keep(
        gopher_repetition_rules(
            gq,
            "cleaned",
            id_col,
            max_top_gram_char_frac=max_top_gram_char_frac,
            passthrough=("cleaned",),
        )
    )
    return keep(
        quality_classifier_score(
            gr,
            "cleaned",
            id_col,
            dim=clf_dim,
            weights=clf_weights,
            threshold=clf_threshold,
            passthrough=("cleaned",),
        ),
        "n_ws_tokens",
        "clf_score",
    )


def minhash_signatures_from_arrays(
    sh_arrays: DataFrame,
    num_hashes: int = 16,
    id_col: str = "doc_id",
    shingle_col: str = "shingles",
) -> DataFrame:
    """Reference of ``operators.dedup.minhash_signatures_from_arrays``:
    per seed h, ``array_min(transform(shingles, hash32(seed=h)))``."""

    def _mh(h: int):
        # closure factory, never a default arg: pyspark binds every
        # lambda parameter (defaults included) to a higher-order lambda
        # variable, which would turn h into a Column
        return lambda s: hash32(s, seed=h)

    return sh_arrays.select(
        id_col,
        *[
            F.array_min(F.transform(F.col(shingle_col), _mh(h))).alias(f"mh_{h}")
            for h in range(num_hashes)
        ],
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    top_n: int = 1,
) -> DataFrame:
    """Reference of ``operators.similarity.ivf_assign``: broadcast
    cross join scored by ``cosine()``; top_n=1 keeps the max_by winner
    (NULL cosine ranks below every score, ties to the smallest centroid
    id), top_n>1 the first rows of the (sim desc, centroid_id) window."""
    c = corpus.select(F.col(id_col), _as_double(vec_col).alias("__v"))
    cent = centroids.select(F.col(centroid_id_col), _as_double(vec_col).alias("__c"))
    scored = c.join(F.broadcast(cent)).withColumn("sim", cosine(F.col("__v"), F.col("__c")))
    if top_n == 1:
        ordk = F.struct(
            F.coalesce(F.col("sim"), F.lit(-2.0)).alias("s"),
            (-F.col(centroid_id_col)).alias("nc"),
        )
        return (
            scored.groupBy(id_col)
            .agg(
                F.max_by(
                    F.struct(F.col(centroid_id_col).alias("__cid"), F.col("__v")), ordk
                ).alias("__b")
            )
            .select(
                id_col,
                F.col("__b.__cid").alias(centroid_id_col),
                F.col("__b.__v").alias("__v"),
            )
        )
    w = Window.partitionBy(id_col).orderBy(F.col("sim").desc(), F.col(centroid_id_col))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= top_n)
        .select(id_col, centroid_id_col, "__v")
    )


def kmeans_lloyd_step_dims(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    round_to: int | None = 6,
) -> DataFrame:
    """Reference of ``kmeans_lloyd_step(as_dims=True)``: assign, then
    posexplode each member vector and average per (centroid, dim)."""
    assigned = ivf_assign(corpus, centroids, id_col, vec_col, centroid_id_col)
    dims = assigned.select(centroid_id_col, F.posexplode(F.col("__v")).alias("dim", "x"))
    mean_col = F.avg("x")
    if round_to is not None:
        mean_col = F.round(mean_col, round_to)
    return dims.groupBy(centroid_id_col, "dim").agg(mean_col.alias("m"))


def ivf_assign_two_level(
    corpus: DataFrame,
    centroids: DataFrame,
    super_centroids: DataFrame,
    centroid_groups: DataFrame,
    gprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Reference of ``operators.similarity.ivf_assign_two_level``:
    route to the ``gprobe`` best super-centroids, join their member
    centroids, keep the (sim desc, centroid_id) first row per id."""
    routed = ivf_assign(
        corpus,
        super_centroids,
        id_col=id_col,
        vec_col=vec_col,
        centroid_id_col="group_id",
        top_n=gprobe,
    )
    cmap = centroid_groups.select("centroid_id", "group_id")
    cvecs = centroids.select(F.col("centroid_id"), _as_double(vec_col).alias("__c"))
    scored = (
        routed.join(F.broadcast(cmap), "group_id")
        .join(F.broadcast(cvecs), "centroid_id")
        .withColumn("sim", cosine(F.col("__v"), F.col("__c")))
    )
    w = Window.partitionBy(id_col).orderBy(F.col("sim").desc(), F.col("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "centroid_id", "__v")
    )
