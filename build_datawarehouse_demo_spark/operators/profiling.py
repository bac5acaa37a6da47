"""Data-profiling operators: fixed-bin histograms and per-column
table statistics — the "what is in this table" pass every warehouse
and every training-data triage runs before anything else.

Scale shape: both ops are single-pass aggregations. The histogram
shuffles (bin) keys only; the profiler is one agg row expanded to one
output row per column — the multi-DISTINCT agg plans through Spark's
Expand operator (input duplicated once per distinct column), which is
the exact-answer cost; at 100 TB swap `exact_distinct=False` to use
HyperLogLog sketches (approx_count_distinct) and the Expand disappears.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def histogram_fixed(
    df: DataFrame, value_col: str, bin_width: float, out_bin: str = "bin"
) -> DataFrame:
    """Fixed-width histogram: bin = floor(value / bin_width), with
    per-bin count and observed min/max. NULL values are excluded.
    One partial+final aggregation; only bin keys shuffle."""
    v = F.col(value_col)
    return (
        df.filter(v.isNotNull())
        .groupBy(F.floor(v / F.lit(float(bin_width))).cast("bigint").alias(out_bin))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(v).cast("double").alias("lo"),
            F.max(v).cast("double").alias("hi"),
        )
    )


def profile_columns(
    df: DataFrame, cols: list[str] | None = None, exact_distinct: bool = True
) -> DataFrame:
    """Per-column profile: (col_name, n_rows, n_nulls, n_distinct,
    min_value, max_value) — min/max stringified AFTER the typed
    aggregation (a lexicographic min over stringified numerics would
    be wrong). Pre-format timestamp columns to sortable strings before
    calling if string min/max parity with another engine matters.

    `exact_distinct=False` switches to approx_count_distinct: at scale
    the exact form pays an Expand (input x n_cols); the HLL form is
    one narrow pass with ~2% relative error.
    """
    cols = list(cols or df.columns)
    distinct = (
        (lambda c: F.countDistinct(F.col(c)))
        if exact_distinct
        else (lambda c: F.approx_count_distinct(F.col(c)))
    )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nulls_{c}"),
            distinct(c).alias(f"__dist_{c}"),
            F.min(F.col(c)).cast("string").alias(f"__min_{c}"),
            F.max(F.col(c)).cast("string").alias(f"__max_{c}"),
        ]
    one = df.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__n").cast("bigint").alias("n_rows"),
                F.col(f"__nulls_{c}").cast("bigint").alias("n_nulls"),
                F.col(f"__dist_{c}").cast("bigint").alias("n_distinct"),
                F.col(f"__min_{c}").alias("min_value"),
                F.col(f"__max_{c}").alias("max_value"),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(structs).alias("p")).select("p.*")


def constraint_violations(
    df: DataFrame,
    not_null: list[str] = (),
    unique: list[str] = (),
    ranges: dict[str, tuple] = None,
    accepted_values: dict[str, list] = None,
) -> DataFrame:
    """dbt-style data-quality checks as ONE aggregation pass: returns
    (constraint, n_violations) rows, one per declared constraint, all
    computed from a single scan with conditional aggregates — no
    per-constraint jobs, no driver-side loop over results.

    - ``not_null``: count of NULLs per column
    - ``unique``: n_rows - n_distinct per column (0 = unique; exact
      count_distinct — swap for approx_count_distinct at extreme
      cardinality)
    - ``ranges``: {col: (lo, hi)} inclusive-bounds violations (NULLs
      don't count — they're the not_null check's job)
    - ``accepted_values``: {col: [allowed...]} membership violations

    Referential-integrity (orphan-key) checks live with the caller as
    an anti-join count — they need a second table and belong in the
    join layer, not a single-table profile.
    """
    # column names are USER INPUT and land in constraint labels: keep
    # them out of every name-parsing surface (F.col / df[c] /
    # selectExpr / aliases all parse dots, quotes, backticks as
    # syntax). Rename every input column to a safe positional name
    # first (toDF is purely positional), compute against those, and
    # carry the real names only as literal labels.
    safe = {}
    dupes = set()
    for i, c in enumerate(df.columns):
        if c in safe:
            dupes.add(c)
        safe.setdefault(c, f"__in{i}")
    sdf = df.toDF(*[f"__in{i}" for i in range(len(df.columns))])

    def _in(c: str):
        if c not in safe:
            raise ValueError(f"unknown column {c!r}; have {df.columns}")
        if c in dupes:
            # r7 ADVICE: setdefault silently bound a duplicated name to
            # its FIRST occurrence — where F.col would have raised
            # AMBIGUOUS_REFERENCE, this computed the constraint against
            # an arbitrary one of the duplicates
            raise ValueError(
                f"column {c!r} appears more than once in the input; "
                "disambiguate (rename) before profiling it"
            )
        return F.col(safe[c])

    labels: list[str] = []
    aggs = []

    def _add(label: str, expr) -> None:
        aggs.append(expr.alias(f"__c{len(aggs)}"))
        labels.append(label)

    for c in not_null:
        _add(f"not_null:{c}", F.count(F.when(_in(c).isNull(), 1)))
    for c in unique:
        _add(f"unique:{c}", F.count(_in(c)) - F.countDistinct(_in(c)))
    for c, (lo, hi) in (ranges or {}).items():
        _add(
            f"range:{c}",
            F.count(F.when(_in(c).isNotNull() & ~_in(c).between(lo, hi), 1)),
        )
    for c, allowed in (accepted_values or {}).items():
        _add(
            f"accepted_values:{c}",
            F.count(F.when(_in(c).isNotNull() & ~_in(c).isin(list(allowed)), 1)),
        )
    if not aggs:
        raise ValueError("no constraints declared")
    wide = sdf.agg(*aggs)
    # long form: one row per constraint, exploded executor-side from
    # the single wide row (no collect)
    kvs = F.array(
        *[
            F.struct(
                F.lit(label).alias("constraint"),
                F.col(f"__c{i}").alias("n_violations"),
            )
            for i, label in enumerate(labels)
        ]
    )
    return wide.select(F.explode(kvs).alias("kv")).select(
        "kv.constraint", "kv.n_violations"
    )


def histogram_equidepth(df: DataFrame, col: str, buckets: int = 8) -> DataFrame:
    """Equi-DEPTH histogram: bucket boundaries at the exact
    interpolated quantiles, counts per bucket — the histogram an
    optimizer or data profiler actually wants on skewed columns
    (fixed-width bins put 99% of a long-tail column in bin 0;
    histogram_fixed covers that shape).

    Plan shape: ONE aggregation computes all cutpoints
    (`F.percentile` with a fraction array), the 1-row result
    broadcast-cross-joins back, and bucket assignment is a pure array
    expression (count of cutpoints below the value) feeding a hash
    agg on the bucket id — no collect, no per-bucket jobs, two
    passes total.

    Cross-engine determinism: ties with a cutpoint only matter when
    the cutpoint IS a data value (interpolation fraction 0), where
    both engines produce the exact stored double; strictly
    interpolated cutpoints have no data value between their
    neighbors, so `value > cutpoint` is ulp-robust.
    """
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    fracs = F.array(*[F.lit(i / buckets) for i in range(1, buckets)])
    cuts = df.agg(F.percentile(F.col(col), fracs).alias("__cuts"))
    return (
        df.where(F.col(col).isNotNull())
        .join(F.broadcast(cuts))
        .select(
            F.size(F.filter(F.col("__cuts"), lambda c: F.col(col) > c)).alias(
                "bucket_id"
            ),
            F.col(col),
            "__cuts",
        )
        .groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min(col), 6).alias("lo_value"),
            F.round(F.max(col), 6).alias("hi_value"),
        )
    )


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    group_cols: tuple[str, ...] = ("lang", "source"),
) -> DataFrame:
    """Per-(lang, source) corpus health report — the first thing a
    data curator asks of a new crawl slice: how many documents, how
    many tokens, how long are they, and how much of the slice is
    verbatim duplication. One scan, one partial-aggregated groupBy
    over the bounded (langs x sources) key space; the exact-duplicate
    rate rides the same aggregate as a count-distinct over the text
    digest (md5 — the exact_dedup digest contract), so no second pass
    and no join. avg_tokens is rounded 6dp for engine portability;
    dup_rate is integer/integer and needs no rounding.
    """
    from build_datawarehouse_demo_spark.operators.text import tokens

    staged = df.select(
        *[F.col(c) for c in group_cols],
        F.size(tokens(text_col)).cast("long").alias("__n_tok"),
        F.length(F.col(text_col)).cast("long").alias("__n_chars"),
        F.md5(F.col(text_col)).alias("__digest"),
    )
    return (
        staged.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n_tok").alias("n_tokens"),
            F.round(F.avg("__n_tok"), 6).alias("avg_tokens"),
            F.sum("__n_chars").alias("n_chars"),
            F.count_distinct(F.col("__digest")).alias("n_distinct_texts"),
        )
        .withColumn(
            "dup_rate",
            (F.col("n_docs") - F.col("n_distinct_texts")).cast("double")
            / F.col("n_docs").cast("double"),
        )
    )


def source_overlap_report(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Cross-source content-overlap matrix: for every ordered source
    pair (a, b), the number of DISTINCT word n-grams of a that also
    appear in b, and the containment ratio |grams(a) ∩ grams(b)| /
    |grams(a)| — the corpus-governance question "how much of source A
    is already inside source B" (scraped mirrors, vendor re-sells,
    wiki forks) asked at the slice level instead of the document level
    (dedup_ngram_containment). Exact-duplicate overlap misses
    near-mirrors that differ by boilerplate; n-grams catch them.

    Scale shape: one distinct over (source, gram) — the gram exchange;
    the gram self-join fans out at most n_sources rows per gram AFTER
    the distinct (sources are a bounded dimension), so pair volume is
    <= distinct_grams * n_sources^2 and the output is n_sources^2
    rows. Zero-overlap pairs are absent (inner-join semantics). The
    containment is an exact integer-over-integer double division — no
    rounding step needed (the dedup_ngram_containment discipline).
    """
    from build_datawarehouse_demo_spark.operators.text import ngram_array, tokens

    g = (
        df.where(F.col(text_col).isNotNull())
        .withColumn("__toks", tokens(text_col))
        .select(
            F.col(source_col), F.explode(ngram_array(F.col("__toks"), n)).alias("__gram")
        )
        .distinct()
    )
    sizes = g.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_grams_a"))
    a = g.select(F.col(source_col).alias("source_a"), "__gram")
    b = g.select(F.col(source_col).alias("source_b"), "__gram")
    pairs = (
        a.join(b, "__gram")
        .where(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return pairs.join(
        sizes.withColumnRenamed(source_col, "source_a"), "source_a"
    ).select(
        "source_a",
        "source_b",
        "n_shared",
        "n_grams_a",
        (F.col("n_shared").cast("double") / F.col("n_grams_a")).alias("containment"),
    )
