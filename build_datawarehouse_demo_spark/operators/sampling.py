"""Deterministic sampling & dataset splitting for training-data
pipelines.

`df.sample()` uses Spark's per-partition RNG: not reproducible across
partitionings, engines, or reruns — useless for "which exact documents
were in the training set?" questions. These operators key every
decision off md5 of a stable id (operators/dedup.py:hash32 — the same
engine-portable hash as the dedup family), so a sample is a pure
function of the data: re-runnable anywhere, joinable years later,
oracle-checkable.

Scale shape: a narrow filter/projection — no shuffle, no state; the
predicate rides to the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.operators.dedup import hash32
from build_datawarehouse_demo_spark.session import materialize

# hash32 yields 32-bit values; bucket to per-mille for rate precision
_BUCKETS = 1000


def _bucket(id_col: Column, seed: int, purpose: str = "") -> Column:
    """Per-mille bucket of an id. `purpose` salts the hash so different
    operators never share bucket assignments at the same seed — without
    it, a default-seed 10% sample would coincide EXACTLY with the val
    split (both 'buckets < 100'), the leakage this module exists to
    prevent."""
    keyed = F.concat(F.lit(f"{purpose}:"), id_col.cast("string")) if purpose else id_col.cast("string")
    return F.pmod(hash32(keyed, seed=seed), F.lit(_BUCKETS))


def sample_by_hash(df: DataFrame, id_col: str, rate: float, seed: int = 0) -> DataFrame:
    """Deterministic ~rate sample: keep rows whose id-hash bucket falls
    below rate·1000. Same ids are kept on every run, every engine.
    Rows with a NULL id are dropped (a null hash satisfies no
    comparison) — consistent across the sampler family.
    """
    return df.filter(_bucket(F.col(id_col), seed, purpose="sample") < round(rate * _BUCKETS))


def stratified_sample_by_hash(
    df: DataFrame, id_col: str, strata_col: str, rates: dict[str, float], seed: int = 0
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. keep 100% of rare
    languages, 10% of the head language). Strata missing from `rates`
    are dropped — pass rate 1.0 to keep whole; an empty `rates` drops
    everything. Purpose-salted independently of sample_by_hash: the
    two operators at the same seed must draw INDEPENDENT buckets, not
    nested subsets of each other."""
    threshold: Column = F.lit(0)
    for value, rate in sorted(rates.items()):
        threshold = F.when(F.col(strata_col) == value, F.lit(round(rate * _BUCKETS))).otherwise(
            threshold
        )
    return df.filter(_bucket(F.col(id_col), seed, purpose="strat") < threshold)


def reservoir_sample_per_group(
    df: DataFrame, group_col: str, id_col: str, k: int, seed: int = 0
) -> DataFrame:
    """Deterministic fixed-size sample: exactly min(k, |group|) rows
    per group, chosen uniformly by ranking the purpose-salted id hash.

    The distributed answer to reservoir sampling — same marginal
    distribution (each member equally likely under the random-oracle
    hash), but a pure function of the data: re-runnable, engine-
    portable, oracle-checkable, and streaming-friendly (a new row
    displaces the current max-hash member iff its hash is smaller).

    Scale shape: one shuffle on group_col for the rank window. For
    heavy groups, pre-filter with an approximate per-group hash
    threshold before the window to cap state (not needed here; noted
    for the 100 TB path). Hash ties are broken by id so the window
    order is total; NULL ids are dropped (no stable identity = no
    stable sample membership).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from pyspark.sql import Window

    h = hash32(F.concat(F.lit("reservoir:"), F.col(id_col).cast("string")), seed=seed)
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.where(F.col(id_col).isNotNull())
        .withColumn("__rs_rank", F.row_number().over(w))
        .where(F.col("__rs_rank") <= k)
        .drop("__rs_rank")
    )


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    seed: int = 0,
    split_col: str = "split",
) -> DataFrame:
    """Assign every row a stable split label from its id hash.

    Disjoint and exhaustive by construction; membership never changes
    when the dataset grows (a row's split depends only on its own id) —
    the property that prevents train/test leakage across dataset
    versions. The hash is salted with 'split' so split assignments are
    independent of any sample_by_hash draw at the same seed.
    """
    if not (0 <= val_frac and 0 <= test_frac and val_frac + test_frac <= 1):
        raise ValueError(
            f"val_frac={val_frac} and test_frac={test_frac} must be >= 0 and sum to <= 1"
        )
    b = _bucket(F.col(id_col), seed, purpose="split")
    # round, not int(): float repr can land just under the product
    # (0.3*1000 = 299.999…) and int() would undershoot by a bucket.
    val_hi = round(val_frac * _BUCKETS)
    test_hi = val_hi + round(test_frac * _BUCKETS)
    return df.withColumn(
        split_col,
        # null id -> null split, EXPLICITLY: the otherwise() branch
        # would silently funnel null-id rows into 'train' while the
        # samplers drop them — an unlabeled row must look unlabeled.
        F.when(F.col(id_col).isNull(), F.lit(None).cast("string"))
        .when(b < val_hi, F.lit("val"))
        .when(b < test_hi, F.lit("test"))
        .otherwise(F.lit("train")),
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    seed: int = 0,
) -> DataFrame:
    """Near-dup-aware train/val/test split (r14): every member of a
    near-dup component receives the split drawn from its COMPONENT id
    (the min-id representative), so near-duplicate documents can never
    straddle the train/test boundary — the benchmark-leakage mechanism
    a per-document hash split is blind to (a test document's near-copy
    landing in train silently inflates eval).

    ``pairs``: verified near-dup edges (id_a, id_b[, ...]) from any of
    the dedup family (minhash_dedup_pairs, simhash_rep_pairs,
    embedding_near_dup_pairs_bucketed). Components come from the
    large-star/small-star contraction; documents with no edge are
    their own component, and their split equals the plain
    train_val_test_split assignment (same hash, keyed on their own
    id) — so adopting the leakage-safe split only ever MOVES members
    of multi-document components, never the singleton majority.

    Returns ``df``'s rows + (component_id, split).

    Scale shape: components run in O(log n) star rounds over the PAIR
    graph (pair-graph volume, not corpus volume); the membership join
    is one id-keyed hash join; the split is a narrow hash projection
    of the component id.
    """
    from build_datawarehouse_demo_spark.operators.dedup import (
        connected_components_star,
    )

    comp = connected_components_star(pairs.select("id_a", "id_b"))
    tagged = (
        df.join(comp.withColumnRenamed("node", id_col), id_col, "left")
        .withColumn("component_id", F.coalesce(F.col("component"), F.col(id_col)))
        .drop("component")
    )
    return train_val_test_split(
        tagged, "component_id", val_frac=val_frac, test_frac=test_frac, seed=seed
    )


def weighted_reservoir_per_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = 0,
) -> DataFrame:
    """Deterministic WEIGHTED fixed-size sample: min(k, |group|) rows
    per group with inclusion probability proportional to weight — the
    Efraimidis–Spirakis A-ES scheme (Inf. Proc. Letters 2006) with the
    random draw replaced by the engine-portable id hash.

    A-ES ranks rows by u^(1/w) for u ~ U(0,1]; equivalently (and
    numerically safer) by ln(u)/w descending. u here is
    (hash32(id)+1) / 2^32 ∈ (0, 1] — a pure function of the data, so
    the sample is re-runnable, engine-portable, and oracle-checkable
    (same rationale as reservoir_sample_per_group; a true RNG would
    make the op untestable). This is the quality-weighted corpus
    sampling step of a training-data pipeline: w = a quality score,
    and high-quality documents are proportionally more likely to make
    the cut while low-quality ones still have mass.

    Rows with NULL id, NULL weight, or weight <= 0 are dropped (zero
    weight = zero inclusion probability; no stable identity = no
    stable membership). Scale shape: one narrow pass for the key, one
    shuffle on group_col for the rank window — identical to the
    uniform reservoir.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    from pyspark.sql import Window

    h = hash32(
        F.concat(F.lit("wreservoir:"), F.col(id_col).cast("string")), seed=seed
    )
    u = (h + F.lit(1)).cast("double") / F.lit(4294967296.0)
    key = F.log(u) / F.col(weight_col).cast("double")
    w = Window.partitionBy(group_col).orderBy(
        key.desc(), F.col(id_col).asc()
    )
    return (
        df.where(
            F.col(id_col).isNotNull()
            & F.col(weight_col).isNotNull()
            & (F.col(weight_col).cast("double") > 0)
        )
        .withColumn("__wr_rank", F.row_number().over(w))
        .where(F.col("__wr_rank") <= k)
        .drop("__wr_rank")
    )


#: fixed-point scale of the temperature-quota weights: 30 fractional
#: decimal digits — far past any plausible quota boundary, and exactly
#: representable in arbitrary-precision integers on every platform
_TEMP_FP_SCALE = 10**30


def _iroot(x: int, p: int) -> int:
    """floor(x ** (1/p)) for non-negative integer x, positive integer
    p — exact integer Newton iteration (the isqrt generalization), so
    the result is a pure function of (x, p) on any platform, with none
    of libm pow's last-ulp variation."""
    if x < 0 or p <= 0:
        raise ValueError(f"_iroot needs x >= 0, p >= 1 (got x={x}, p={p})")
    if p == 1 or x in (0, 1):
        return x
    r = 1 << -(-x.bit_length() // p)  # >= true root: 2^ceil(bits/p)
    while True:
        nr = ((p - 1) * r + x // r ** (p - 1)) // p
        if nr >= r:
            break
        r = nr
    while r**p > x:
        r -= 1
    return r


def temperature_quotas(
    counts: dict, budget: int, temperature: float
) -> dict:
    """Per-source quotas ∝ n_s^(1/T), computed in EXACT integer
    arithmetic (VERDICT r8 item 2 — this removes the former T=2-only
    restriction):

    - T is resolved to the nearest rational p/q with q <= 1000
      (``Fraction(T).limit_denominator``) — exact for every practical
      temperature (1.5 -> 3/2, 3.0 -> 3/1) and it bounds the integer
      exponents below;
    - the weight w_s = floor(n_s^(q/p) * 10^30) is the integer p-th
      root of n_s^q * 10^(30*p) (``_iroot`` — exact Newton, no libm);
    - quota_s = (budget * w_s) // Σw — one bigint division.

    Every step is arbitrary-precision integer math, so the quotas are
    bit-identical on any engine/platform/libm — the reproducibility
    the old IEEE-sqrt special case bought for T=2, now for all T > 0.
    Sources with n <= 0 get quota 0. Σ quotas <= budget by the floor;
    a tiny source's quota may exceed its n (the rank filter then just
    takes the whole source and the budget is under-filled).
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    from fractions import Fraction

    t = Fraction(temperature).limit_denominator(1000)
    p, q = t.numerator, t.denominator  # T = p/q, so 1/T = q/p
    w = {
        s: _iroot(int(n) ** q * _TEMP_FP_SCALE**p, p)
        for s, n in counts.items()
        if n and n > 0
    }
    total = sum(w.values())
    if total == 0:
        return {s: 0 for s in counts}
    return {s: (budget * ws) // total for s, ws in w.items()}


def _micro_weight(weight_col: str) -> Column:
    """Per-row weight in exact MICRO units: round(weight * 1e6) as a
    bigint. The soft-dedup weights (operators/dedup.dedup_soft_weights)
    carry <= 6 decimal places by contract, so this recovers them
    EXACTLY — and every downstream total, quota and running fill is
    then arbitrary-precision integer arithmetic, bit-identical across
    engines (a float sum over distributed partitions would not be:
    addition order varies run to run).

    Corollary (ADVICE r18): the DRAWABLE minimum weight is 1e-6. A
    positive weight below 5e-7 rounds to micro-unit 0 and the row is
    dropped by the mixers' ``__mw > 0`` filter exactly as if its
    weight were 0 — intentional for the dedup_soft_weights contract
    (whose smallest value is 1/|class| >= 1e-6 for any class a corpus
    could hold), but a caller feeding an arbitrary weight column must
    pre-scale it so meaningful mass stays >= 1e-6."""
    return F.round(F.col(weight_col).cast("double") * F.lit(1_000_000.0), 0).cast(
        "bigint"
    )


#: per-source running-sum ceiling: totals are summed exactly (decimal)
#: and must fit the BIGINT cum column the mixers emit
_FILL_LONG_MAX = 1 << 63


def _per_source_running_fill(
    df: DataFrame,
    source_col: str,
    id_col: str,
    sort_key: Column,
    measure: Column,
    cum_name: str,
) -> tuple[DataFrame, dict]:
    """Per-source global running sum with NO per-source single-reducer
    sort (r19, VERDICT r18 item 1): the shard_token_balanced shape
    applied per source.

    The naive fill — ``Window.partitionBy(source).orderBy(key)`` — hash
    -partitions by source and sorts each source's ENTIRE corpus inside
    one task: with O(10) sources at 100 TB that is a single-reducer
    sort per source, the same scale-killer class as a global window.
    This helper computes the identical running sums distributed:

    1. project the fill input to a SLIM frame (id, source, key,
       measure) — payloads (text!) never enter the exchange;
    2. ``repartitionByRange`` on (source, key, id): a DISTRIBUTED sort
       — each source spans as many partitions as its mass needs, and
       partition order follows the composite key order;
    3. ``localCheckpoint`` the ranged frame once so the two passes
       below read the same materialized rows (at production scale swap
       for a parquet boundary — the plans/training_data.py discipline);
    4. ONE bounded collect of per-(partition, source) totals — at most
       n_partitions + n_sources rows because range partitioning keeps
       sources contiguous (the scalar-collect discipline);
    5. driver-side per-source prefix offsets (exact Python bigints),
       broadcast back, per-(partition, source) local cumsum window +
       offset = the global per-source running sum.

    The running-sum VALUES are identical to the naive window's for any
    partition-boundary placement (prefix sums are associative), so the
    refactor is pinned by the existing mixer oracles unchanged.

    Totals are aggregated as decimal(38,0) and returned as exact
    Python ints; any per-source total >= 2^63 raises (ADVICE r18: the
    micro-unit bigint cum column would otherwise wrap silently at
    ~9.2e18 micro-units ~ 9.2e12 weighted tokens per source).

    ``sort_key`` must be the ASCENDING order key (negate a descending
    score before passing). Ids are assumed unique per (source, id) —
    the identity contract every sampler here shares. Rows with a NULL
    source keep their mass in ``totals`` (quota dilution semantics are
    the caller's) but receive no fill row — every mixer drops them at
    its quota join anyway.

    Returns ``(filled, totals)``: ``filled`` = slim (id, source,
    cum_name) with cum_name the running sum of ``measure`` over the
    source's rows in (sort_key ASC, id ASC) order; ``totals`` =
    {source_value: exact int total} including a None key if null
    sources exist.
    """
    from pyspark.sql import Window
    from pyspark.sql import types as T

    spark = df.sparkSession
    slim = df.select(
        F.col(id_col).alias("__fid"),
        F.col(source_col).alias("__fsrc"),
        sort_key.alias("__fkey"),
        measure.cast("bigint").alias("__fm"),
    )
    p = spark.sparkContext.defaultParallelism
    ranged = materialize(
        slim.repartitionByRange(p, F.col("__fsrc"), F.col("__fkey"), F.col("__fid"))
        .withColumn("__fpid", F.spark_partition_id())
    )
    part_totals = (
        ranged.groupBy("__fpid", "__fsrc")
        .agg(F.sum(F.col("__fm").cast("decimal(38,0)")).alias("__ft"))
        .collect()
    )
    by_src: dict = {}
    for row in part_totals:
        by_src.setdefault(row["__fsrc"], []).append((row["__fpid"], int(row["__ft"])))
    totals = {s: sum(t for _, t in lst) for s, lst in by_src.items()}
    over = {s: t for s, t in totals.items() if t >= _FILL_LONG_MAX}
    if over:
        raise ValueError(
            "per-source fill totals exceed the bigint running-sum range "
            f"(2^63 micro-units): {over} — rescale the weight/token units "
            "(micro-unit ceiling ~9.2e12 weighted tokens per source)"
        )
    offsets = []
    for s, lst in by_src.items():
        if s is None:
            continue
        acc = 0
        for pid, t in sorted(lst):
            offsets.append((int(pid), s, acc))
            acc += t
    src_field = df.schema[source_col]
    odf = spark.createDataFrame(
        offsets,
        T.StructType(
            [
                T.StructField("__fpid", T.IntegerType(), False),
                T.StructField("__fsrc", src_field.dataType, src_field.nullable),
                T.StructField("__foff", T.LongType(), False),
            ]
        ),
    )
    w = (
        Window.partitionBy("__fpid", "__fsrc")
        .orderBy(F.col("__fkey").asc(), F.col("__fid").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = (
        ranged.withColumn("__flc", F.sum("__fm").over(w))
        .join(F.broadcast(odf), ["__fpid", "__fsrc"])
        .select(
            F.col("__fid").alias(id_col),
            F.col("__fsrc").alias(source_col),
            (F.col("__foff") + F.col("__flc")).cast("bigint").alias(cum_name),
        )
    )
    return filled, totals


def _es_key(salt: str, id_col: str, micro_w: Column, seed: int) -> Column:
    """Efraimidis–Spirakis A-ES ordering key on the engine-portable id
    hash: ln(u)/w with u = (hash32(id)+1)/2^32 ∈ (0, 1] — rows sort by
    the key DESCENDING, giving inclusion probability ∝ weight (the
    weighted_reservoir_per_group scheme, reused by the weighted
    mixers). Dividing by the MICRO weight instead of the raw weight
    rescales every key by the same positive constant, so the order —
    and therefore the sample — is identical, while both engines derive
    the key from the same exact integer μ."""
    h = hash32(F.concat(F.lit(salt), F.col(id_col).cast("string")), seed=seed)
    u = (h + F.lit(1)).cast("double") / F.lit(4294967296.0)
    return F.log(u) / micro_w.cast("double")


def sample_temperature_mix(
    df: DataFrame,
    source_col: str,
    id_col: str,
    budget: int,
    temperature: float = 2.0,
    seed: int = 0,
    weight_col: str | None = None,
) -> DataFrame:
    """Temperature-based corpus mixing (the multilingual/multi-source
    rebalancing every LLM data pipeline runs): each source s gets a
    quota ∝ n_s^(1/T) of the total ``budget`` — T=1 reproduces natural
    proportions, T→∞ tends to uniform across sources, the standard
    way to up-sample tail sources without flattening the head — then
    the quota is filled with a DETERMINISTIC uniform per-source draw
    (md5-hash rank, engine-portable like every sampler here).

    Any temperature > 0 is supported. Quotas follow the
    ``temperature_quotas`` fixed-point integer contract: weights are
    floor(n^(1/T) * 10^30) by exact integer root extraction, quotas
    floor(budget * w / Σw) by bigint division — bit-reproducible on
    every platform, no libm pow anywhere (the former T=2-only
    IEEE-sqrt restriction is gone; its rationale — a float pow could
    flip a floor at a quota boundary — is answered by doing no float
    arithmetic at all).

    ``weight_col`` (r18, VERDICT r17 item 2) makes the mix
    WEIGHT-AWARE, so soft-dedup output (dedup_soft_weights' 1/|class|
    mass) flows straight into training-data assembly: quotas are
    computed over per-source WEIGHTED document mass (exact micro-unit
    integers — see _micro_weight), the draw order becomes the
    Efraimidis–Spirakis key (inclusion probability ∝ weight, the
    weighted_reservoir_per_group scheme), and the fill is the greedy
    prefix of the running weighted mass — a duplicate class of n
    copies at weight 1/n costs the budget ~one document, not n.
    Rows with NULL or <= 0 weight leave before the totals (drawable-
    population discipline; zero weight = zero inclusion probability).
    Weights must carry <= 6 decimal places (the dedup_soft_weights
    contract) so the micro recovery is exact — and meaningful mass
    must be >= 1e-6 (ADVICE r18): a positive weight below 5e-7 rounds
    to micro-unit 0 and its row becomes non-drawable, exactly as if
    the weight were 0. Weighted output: sampled rows + (wdoc_cum,
    wdoc_quota), both in micro-documents.

    Scale shape (r19, VERDICT r18 item 1): the per-source totals fall
    out of the SAME bounded per-(partition, source) collect the fill
    uses (sources are a bounded-cardinality dimension — languages /
    domains / registries, thousands at most), quotas broadcast back as
    literals, and the fill itself is _per_source_running_fill — a
    distributed range-partitioned prefix sum over a SLIM (id, source,
    key, measure) projection, NOT a per-source single-partition
    window; payloads rejoin by (id, source) afterwards. Output:
    sampled rows + (rnk, quota).
    """
    from pyspark.sql import types as T

    # null-id rows leave BEFORE counting: quotas must be proportional
    # to the DRAWABLE population, or a source with many null ids would
    # be over-quota'd against rows the rank window can never pick
    # (review finding r8; same filter-first discipline as
    # weighted_reservoir_per_group)
    df = df.where(F.col(id_col).isNotNull())
    if weight_col is not None:
        df = df.where(F.col(weight_col).isNotNull()).withColumn(
            "__mw", _micro_weight(weight_col)
        ).where(F.col("__mw") > 0)
        key = _es_key("wtemp:", id_col, F.col("__mw"), seed)
        # ES order is key DESC; the fill sorts ASC, so pass the negated
        # key (double negation is exact; ties still break on the id)
        filled, totals = _per_source_running_fill(
            df, source_col, id_col, (-key), F.col("__mw"), "wdoc_cum"
        )
        quotas = temperature_quotas(totals, budget * 1_000_000, temperature)
        qdf = df.sparkSession.createDataFrame(
            [(s, int(k)) for s, k in quotas.items()],
            T.StructType(
                [
                    df.schema[source_col],
                    T.StructField("wdoc_quota", T.LongType(), False),
                ]
            ),
        )
        payload = df.drop("__mw")
        return (
            payload.join(filled, [id_col, source_col])
            .join(F.broadcast(qdf), source_col)
            .where(F.col("wdoc_cum") <= F.col("wdoc_quota"))
            .select(
                source_col,
                *[c for c in payload.columns if c != source_col],
                "wdoc_cum",
                "wdoc_quota",
            )
        )
    h = hash32(F.concat(F.lit("temp:"), F.col(id_col).cast("string")), seed=seed)
    filled, counts = _per_source_running_fill(
        df, source_col, id_col, h, F.lit(1), "rnk"
    )
    quotas = temperature_quotas(counts, budget, temperature)
    qdf = df.sparkSession.createDataFrame(
        [(s, int(k)) for s, k in quotas.items()],
        T.StructType(
            [df.schema[source_col], T.StructField("quota", T.IntegerType(), False)]
        ),
    )
    return (
        df.join(
            filled.withColumn("rnk", F.col("rnk").cast("int")),
            [id_col, source_col],
        )
        .join(F.broadcast(qdf), source_col)
        .where(F.col("rnk") <= F.col("quota"))
        .select(
            source_col, *[c for c in df.columns if c != source_col], "rnk", "quota"
        )
    )


def sample_token_budget_mix(
    df: DataFrame,
    source_col: str,
    id_col: str,
    token_col: str,
    token_budget: int,
    temperature: float = 1.0,
    seed: int = 0,
    weight_col: str | None = None,
) -> DataFrame:
    """Token-budget corpus mixing: like ``sample_temperature_mix`` but
    quotas and fills are measured in TOKENS, not documents — the unit
    production LLM mixes are actually specified in ("500B tokens, 30%
    code, temperature-rebalanced multilingual"). A document-count
    quota over-draws sources with long documents; this operator gives
    source s a token quota ∝ tok_s^(1/T) of ``token_budget`` (tok_s =
    the source's total tokens; the same exact-bigint
    ``temperature_quotas`` contract — T=1 is natural token
    proportions) and fills it with the GREEDY PREFIX of the
    deterministic per-source hash order: a document is kept iff the
    running token total INCLUDING it stays <= the quota. The kept set
    is therefore always a prefix of the rank order (a document larger
    than the remaining budget ends the source's fill — nothing after
    it sneaks in), which is what makes the draw a pure function of
    (data, budget, T, seed): re-runnable anywhere, joinable later,
    oracle-checkable in SQL as a windowed running sum.

    Rows with a NULL id or NULL token count leave before the totals
    are taken (drawable-population discipline, ADVICE r9). Zero-token
    documents cost nothing and are kept wherever they land in the
    prefix. Purpose salt 'tokmix:' keeps the order independent of the
    document-quota mixer's at the same seed.

    ``weight_col`` (r18, VERDICT r17 item 2): the WEIGHTED form — the
    unit becomes weighted tokens (micro-exact integers, μ·tok for
    μ = round(weight·10⁶) — see _micro_weight), so a soft-dedup class
    of n copies at weight 1/n costs the token budget ~one document's
    tokens while every copy stays drawable; the order becomes the
    Efraimidis–Spirakis key (selection probability ∝ weight), and the
    fill is the greedy prefix of the running weighted-token sum
    against a micro-token quota. Rows with NULL or <= 0 weight leave
    before the totals; weights carry <= 6 decimal places (the
    dedup_soft_weights contract), and meaningful mass must be >= 1e-6
    (ADVICE r18: a positive weight below 5e-7 rounds to micro-unit 0
    and becomes non-drawable, exactly as if it were 0). Weighted
    output: sampled rows + (wtok_cum, wtok_quota), both in
    micro-tokens. Per-source weighted totals must stay under 2^63
    micro-tokens (~9.2e12 weighted tokens) — the fill's exact decimal
    totals raise past the ceiling instead of wrapping (ADVICE r18).

    Scale shape (r19, VERDICT r18 item 1): identical to
    sample_temperature_mix — per-source totals and the running fill
    both come from _per_source_running_fill's distributed
    range-partitioned prefix sum over a slim projection (no per-source
    single-partition window; one bounded per-(partition, source)
    collect), quotas broadcast back, payloads rejoined by (id,
    source). Output: sampled rows + (tok_cum, token_quota).
    """
    from pyspark.sql import types as T

    df = df.where(F.col(id_col).isNotNull() & F.col(token_col).isNotNull())
    if weight_col is not None:
        df = df.where(F.col(weight_col).isNotNull()).withColumn(
            "__mw", _micro_weight(weight_col)
        ).where(F.col("__mw") > 0)
        wtok = F.col("__mw") * F.col(token_col).cast("bigint")
        key = _es_key("wtokmix:", id_col, F.col("__mw"), seed)
        filled, totals = _per_source_running_fill(
            df, source_col, id_col, (-key), wtok, "wtok_cum"
        )
        quotas = temperature_quotas(
            totals, token_budget * 1_000_000, temperature
        )
        qdf = df.sparkSession.createDataFrame(
            [(s, int(k)) for s, k in quotas.items()],
            T.StructType(
                [
                    df.schema[source_col],
                    T.StructField("wtok_quota", T.LongType(), False),
                ]
            ),
        )
        payload = df.drop("__mw")
        return (
            payload.join(filled, [id_col, source_col])
            .join(F.broadcast(qdf), source_col)
            .where(F.col("wtok_cum") <= F.col("wtok_quota"))
            .select(
                source_col,
                *[c for c in payload.columns if c != source_col],
                "wtok_cum",
                "wtok_quota",
            )
        )
    h = hash32(F.concat(F.lit("tokmix:"), F.col(id_col).cast("string")), seed=seed)
    filled, totals = _per_source_running_fill(
        df, source_col, id_col, h, F.col(token_col).cast("bigint"), "tok_cum"
    )
    quotas = temperature_quotas(totals, token_budget, temperature)
    qdf = df.sparkSession.createDataFrame(
        [(s, int(k)) for s, k in quotas.items()],
        T.StructType(
            [df.schema[source_col], T.StructField("token_quota", T.LongType(), False)]
        ),
    )
    return (
        df.join(filled, [id_col, source_col])
        .join(F.broadcast(qdf), source_col)
        .where(F.col("tok_cum") <= F.col("token_quota"))
        .select(
            source_col,
            *[c for c in df.columns if c != source_col],
            "tok_cum",
            "token_quota",
        )
    )


def epoch_capped_quotas(
    counts: dict, budget: int, temperature: float, max_epochs: int
) -> dict:
    """Temperature token quotas with per-source REPETITION CAPS
    (r14): quota_s <= max_epochs · tok_s, freed budget water-filled
    back into the uncapped sources at the same temperature until
    stable — the data-constrained-regime allocation ("Scaling
    Data-Constrained Language Models", Muennighoff et al. 2023:
    repeating a small source beyond ~4 epochs stops buying loss, so
    the mix must cap epochs and re-spend the budget on sources that
    still have fresh tokens).

    Exact bigint math end to end (temperature_quotas per round, caps
    are integer products), so the allocation is bit-identical on any
    engine — the derive-not-reformulate oracle contract. Terminates in
    <= len(counts) rounds (every round either finishes or caps at
    least one source). If every source caps, the budget is
    deliberately under-filled — there is nothing left to repeat.
    """
    if max_epochs < 1:
        raise ValueError(f"max_epochs must be >= 1, got {max_epochs}")
    capped: dict = {}
    remaining = {s: int(n) for s, n in counts.items() if n and n > 0}
    budget_left = int(budget)
    while remaining and budget_left > 0:
        q = temperature_quotas(remaining, budget_left, temperature)
        over = [s for s in remaining if q.get(s, 0) > max_epochs * remaining[s]]
        if not over:
            capped.update(q)
            break
        for s in over:
            capped[s] = max_epochs * remaining[s]
            budget_left -= capped[s]
            del remaining[s]
    for s in counts:
        capped.setdefault(s, 0)
    return capped


def sample_epoch_capped_mix(
    df: DataFrame,
    source_col: str,
    id_col: str,
    token_col: str,
    token_budget: int,
    max_epochs: int = 4,
    temperature: float = 1.0,
    seed: int = 0,
    weight_col: str | None = None,
) -> DataFrame:
    """Token-budget corpus mixing WITH REPETITION (r14): the
    data-constrained variant of sample_token_budget_mix. Each source's
    epoch-capped token quota (epoch_capped_quotas) is materialized as
    ``full_s = quota_s // tok_s`` COMPLETE passes over the source plus
    one partial epoch filled by the greedy prefix of the deterministic
    hash order (salt 'epochmix:' — independent of the other mixers at
    the same seed). Output rows carry ``epoch`` (0-based pass number;
    a document appears once per epoch it participates in) and
    ``tok_cum`` (its running token position within a pass), so a
    downstream packer can shuffle-by-epoch or interleave passes.

    Rows with NULL id or NULL token count leave before totals are
    taken (drawable-population discipline). A zero-token source draws
    quota 0 and contributes nothing.

    ``weight_col`` (r19, VERDICT r18 item 2): the WEIGHTED form — the
    multi-epoch mixer a real pretraining run uses, now consuming
    soft-dedup mass. The unit becomes weighted tokens (micro-exact
    integers μ·tok, μ = round(weight·10⁶) — see _micro_weight): the
    per-source totals, the repetition caps (max_epochs · weighted
    tokens) AND the water-filled quotas are all accounted in weighted
    units, so a soft-dedup class of n copies at weight 1/n costs the
    budget ~one document's tokens PER EPOCH while every copy stays in
    each full pass; the partial-epoch draw order becomes the
    Efraimidis–Spirakis key (selection probability ∝ weight, salt
    'wepochmix:'). Rows with NULL or <= 0 weight leave before the
    totals; weights carry <= 6 decimal places (the dedup_soft_weights
    contract) with meaningful mass >= 1e-6 (below 5e-7 rounds to
    micro-unit 0 and is non-drawable, exactly as weight 0). Weighted
    output rows carry ``wtok_cum`` (micro-weighted-token running
    position within a pass) instead of ``tok_cum``.

    Scale shape (r19, VERDICT r18 item 1): per-source totals and the
    running fill both come from _per_source_running_fill's distributed
    range-partitioned prefix sum over a slim (id, source, key,
    measure) projection — NO per-source single-partition window; one
    bounded per-(partition, source) collect (the temperature_quotas
    contract), quotas broadcast back, payloads rejoined by (id,
    source); full epochs are a generator over the already-filled rows
    (no extra exchange).
    """
    from pyspark.sql import types as T

    df = df.where(F.col(id_col).isNotNull() & F.col(token_col).isNotNull())
    if weight_col is not None:
        df = df.where(F.col(weight_col).isNotNull()).withColumn(
            "__mw", _micro_weight(weight_col)
        ).where(F.col("__mw") > 0)
        key = _es_key("wepochmix:", id_col, F.col("__mw"), seed)
        wtok = F.col("__mw") * F.col(token_col).cast("bigint")
        filled, totals = _per_source_running_fill(
            df, source_col, id_col, (-key), wtok, "wtok_cum"
        )
        quotas = epoch_capped_quotas(
            totals, token_budget * 1_000_000, temperature, max_epochs
        )
        cum_col = "wtok_cum"
        df = df.drop("__mw")
    else:
        h = hash32(
            F.concat(F.lit("epochmix:"), F.col(id_col).cast("string")), seed=seed
        )
        filled, totals = _per_source_running_fill(
            df, source_col, id_col, h, F.col(token_col).cast("bigint"), "tok_cum"
        )
        quotas = epoch_capped_quotas(totals, token_budget, temperature, max_epochs)
        cum_col = "tok_cum"
    plan = [
        (s, int(quotas[s]) // totals[s], int(quotas[s]) % totals[s])
        for s in quotas
        if totals.get(s, 0) > 0
    ]
    qdf = df.sparkSession.createDataFrame(
        plan,
        T.StructType(
            [
                df.schema[source_col],
                T.StructField("__full", T.LongType(), False),
                T.StructField("__rem", T.LongType(), False),
            ]
        ),
    )
    staged = df.join(filled, [id_col, source_col]).join(
        F.broadcast(qdf), source_col
    )
    fulls = staged.select(
        "*",
        F.explode(
            F.when(
                F.col("__full") > 0,
                F.sequence(F.lit(0).cast("long"), F.col("__full") - 1),
            )
        ).alias("epoch"),
    )
    # __rem > 0 guard (r15 ADVICE): without it, a source whose quota
    # draw is 0 but whose leading hash-order documents have 0 tokens
    # would emit those rows (tok_cum 0 <= 0), contradicting the
    # "quota 0 contributes nothing" contract. Token-weight impact was
    # zero either way; the guard makes the row set honor the contract.
    partial = staged.where(
        (F.col("__rem") > 0) & (F.col(cum_col) <= F.col("__rem"))
    ).withColumn("epoch", F.col("__full"))
    return (
        fulls.unionByName(partial)
        .drop("__full", "__rem")
        .select(
            source_col,
            *[c for c in df.columns if c != source_col],
            cum_col,
            "epoch",
        )
    )


def importance_resample_dsir(
    df: DataFrame,
    target_pred: Column,
    k: int,
    n_buckets: int = 1024,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 0,
) -> DataFrame:
    """DSIR-style importance resampling (Xie et al., "Data Selection
    for Language Models via Importance Resampling", NeurIPS 2023):
    select the k raw documents that look most like a TARGET
    distribution, by importance weight under hashed bag-of-words
    models plus Gumbel top-k — the published recipe for "give me
    pretraining data shaped like my high-quality set" at corpus scale.

    - features: lowercased whitespace tokens hashed into ``n_buckets``
      buckets (hash32, engine-portable md5 — the same portability
      contract as the dedup family);
    - models: add-1-smoothed multinomials over the buckets, fit on the
      target subset (rows where ``target_pred``) and the full corpus;
    - weight: log w(x) = sum over x's tokens of
      ln p_target(bucket) - ln p_raw(bucket);
    - sampling: Gumbel top-k = top k by (log w + g_i) with
      g_i = -ln(-ln(u_i)) and u_i a deterministic id-hash uniform —
      a without-replacement draw from the softmax of the weights
      (Gumbel-max trick), reproducible anywhere.

    Scale shape: one token explode -> ONE partial-aggregated groupBy
    over at most n_buckets keys; the bucket-weight table (n_buckets
    rows) broadcasts back onto the token stream; the per-doc sum is a
    partial-aggregated groupBy on the id. The only full-width ordering
    is the final top-k, which TakeOrderedAndProject bounds at k rows
    per partition. Zero-token documents have no rows and are never
    drawn (log w undefined), matching the paper's n-gram feature
    domain. Scores are rounded to 6dp before the top-k so the selected
    set is engine-portable (ties break on the id).
    """
    from build_datawarehouse_demo_spark.operators.text import tokens

    toks = df.select(
        F.col(id_col),
        target_pred.alias("__is_t"),
        F.explode(F.transform(tokens(text_col), F.lower)).alias("__tok"),
    ).select(
        F.col(id_col),
        F.col("__is_t"),
        F.pmod(
            hash32(F.concat(F.lit("dsir:"), F.col("__tok")), seed=seed),
            F.lit(n_buckets),
        ).alias("__bucket"),
    )
    per_bucket = toks.groupBy("__bucket").agg(
        F.count(F.lit(1)).alias("__cr"),
        F.sum(F.when(F.col("__is_t"), 1).otherwise(0)).alias("__ct"),
    )
    totals = per_bucket.agg(
        F.sum("__cr").alias("__nr"), F.sum("__ct").alias("__nt")
    )
    weights = per_bucket.crossJoin(F.broadcast(totals)).select(
        F.col("__bucket"),
        (
            F.log((F.col("__ct") + 1.0) / (F.col("__nt") + F.lit(float(n_buckets))))
            - F.log((F.col("__cr") + 1.0) / (F.col("__nr") + F.lit(float(n_buckets))))
        ).alias("__wb"),
    )
    scored = (
        toks.join(F.broadcast(weights), "__bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__wb").alias("__logw"),
        )
    )
    u = (
        hash32(F.concat(F.lit("dsirg:"), F.col(id_col).cast("string")), seed=seed)
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    gumbel = -F.log(-F.log(u))
    return (
        scored.withColumn("score", F.round(F.col("__logw") + gumbel, 6))
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.round("__logw", 6).alias("log_weight"),
            F.col("score"),
        )
    )


def shard_token_balanced(
    df: DataFrame,
    id_col: str,
    token_col: str,
    n_shards: int,
    seed: int = 0,
) -> DataFrame:
    """Deterministic global corpus shuffle + token-balanced sharding:
    order the corpus by an md5 hash of the id (the "shuffle the
    training set once, reproducibly" step every pipeline runs before
    writing shards), then cut the token stream into ``n_shards``
    contiguous ranges of ~equal TOKEN mass:

        shard = min(n_shards-1, prev_cum_tokens * n_shards div total)

    where prev_cum_tokens is the running token total of all documents
    BEFORE this one in the global hash order. Every shard's token mass
    lands within one document of total/n_shards — the guarantee
    hash-mod sharding (pack_sequences' id % shards) only gives in
    expectation, and the one that matters when n_shards is small or
    document sizes are heavy-tailed. The assignment is a pure function
    of (data, n_shards, seed): re-runnable anywhere, and the hash
    order doubles as the reproducible shuffle (pos = prev_cum).

    Scale shape — the global running sum WITHOUT a global window:
    range-repartition on the hash key (global order across partitions,
    uniform because the key is a hash), localCheckpoint the narrow
    (id, tokens, key) projection ONCE so the two passes below read the
    same materialized rows (range bounds come from sampling; pinning
    the rows makes the partition ids stable between passes — at
    production scale swap the checkpoint for a parquet boundary, the
    training_data.py discipline), then (1) one bounded collect of
    per-partition token totals -> offsets on the driver (one row per
    partition, the merge.py scalar-collect discipline), (2) a
    per-partition cumsum window + broadcast offset join. No stage ever
    sees more than its partition; the only full exchanges are the
    range repartition and the window's hash exchange on pid.

    Rows with NULL id leave first (drawable-population discipline);
    NULL token counts cost 0. The output is (id, n_tokens, prev_cum,
    shard) — join back to the payload by id to write, e.g.
    ``df.write.partitionBy("shard")``.
    """
    from pyspark.sql import Window

    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    spark = df.sparkSession
    staged = (
        df.where(F.col(id_col).isNotNull())
        .select(
            F.col(id_col),
            F.coalesce(F.col(token_col).cast("bigint"), F.lit(0)).alias("n_tokens"),
            hash32(
                F.concat(F.lit("shardord:"), F.col(id_col).cast("string")), seed=seed
            ).alias("__hkey"),
        )
    )
    p = spark.sparkContext.defaultParallelism
    ranged = materialize(
        staged.repartitionByRange(p, F.col("__hkey"), F.col(id_col))
        .withColumn("__pid", F.spark_partition_id())
    )
    totals = {
        row[0]: row[1]
        for row in ranged.groupBy("__pid").agg(F.sum("n_tokens").alias("__t")).collect()
    }
    grand = sum(totals.values())
    if grand <= 0:
        # nothing to balance: every document (all zero-token) goes to
        # shard 0 in hash order
        return ranged.select(
            id_col, "n_tokens", F.lit(0).cast("bigint").alias("prev_cum"),
            F.lit(0).cast("int").alias("shard"),
        )
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    from pyspark.sql import types as T

    odf = spark.createDataFrame(
        [(int(pid), int(off)) for pid, off in offsets.items()],
        T.StructType(
            [
                T.StructField("__pid", T.IntegerType(), False),
                T.StructField("__off", T.LongType(), False),
            ]
        ),
    )
    w = (
        Window.partitionBy("__pid")
        .orderBy(F.col("__hkey").asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_local = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return (
        ranged.withColumn("__prev_local", prev_local)
        .join(F.broadcast(odf), "__pid")
        .withColumn(
            "prev_cum", (F.col("__off") + F.col("__prev_local")).cast("bigint")
        )
        .select(
            F.col(id_col),
            F.col("n_tokens"),
            F.col("prev_cum"),
            F.least(
                F.lit(n_shards - 1),
                # `div`, not floor(/): exact integer math on both
                # engines at petabyte offsets (the pack_sequences note)
                F.expr(f"(prev_cum * {int(n_shards)}) div {int(grand)}").cast("int"),
            )
            .cast("int")
            .alias("shard"),
        )
    )
