"""Set-similarity (fuzzy) join with prefix filtering.

Joins two tables on token-set Jaccard >= t without the quadratic
cross join: the classic prefix-filter bound (Chaudhuri et al., "A
Primitive Operator for Similarity Joins in Data Cleaning", ICDE'06)
says two sets can only reach Jaccard t if the first
``n - ceil(t*n) + 1`` elements of a CONSISTENT global ordering share
at least one token. So:

1. one pass computes global token frequencies (the ordering — rarest
   first, so prefixes carry the most selective tokens);
2. each row sorts its distinct tokens by (freq, token) and explodes
   only its prefix — output volume ~ (1-t) * corpus tokens;
3. candidates come from an EQUI-join on prefix tokens (shuffle keyed
   on token, never a cross product);
4. exact Jaccard on the full sorted arrays verifies candidates.

Lossless: the prefix bound over-generates, never misses; verification
is exact, so results equal the quadratic truth (the oracle computes
that truth directly). Scale: every stage is an equi-join or hash agg;
the frequency table is a broadcast; worst case degrades with hot
tokens, which the rarest-first ordering is precisely there to avoid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.session import materialize


def _qgrams(col, q: int):
    """Distinct character q-grams of a string column (empty array for
    strings shorter than q, including NULL — callers drop those rows or
    route them to the short bucket)."""
    return F.when(
        F.length(col) >= q,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(col) - q + 1),
                lambda i: col.substr(i, F.lit(q)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def _deletion_variants(vals: DataFrame, val: str, k: int) -> DataFrame:
    """(val, variant) pairs where variant is val with 0..k single-char
    deletions applied (distinct). |variants| <= 1 + L + L^2/2 + ... —
    bounded for the short strings this path is gated to."""
    one_del = F.transform(
        F.sequence(F.lit(1), F.length("variant")),
        lambda i: F.concat(
            F.col("variant").substr(F.lit(1), i - 1),
            F.col("variant").substr(i + 1, F.length("variant")),
        ),
    )
    cur = vals.select(val, F.col(val).alias("variant"))
    out = cur
    for _ in range(k):
        cur = cur.where(F.length("variant") > 0).select(
            val, F.explode(F.array_distinct(one_del)).alias("variant")
        )
        out = out.unionAll(cur)
    return out.distinct()


def levenshtein_band_join(
    left: DataFrame,
    right: DataFrame,
    max_distance: int,
    left_col: str = "l_name",
    right_col: str = "r_name",
    q: int = 2,
    ordered_pairs: bool = True,
    method: str = "auto",
    candidate_cap: int | None = 100_000_000,
    count_filter: bool | str = "auto",
) -> DataFrame:
    """All (left_val, right_val, dist) pairs of DISTINCT string values
    with Levenshtein(edit) distance <= max_distance, without the
    quadratic cross join — the edit-distance twin of
    ``fuzzy_jaccard_join`` (the reference's data-cleaning joins on
    business names / categories, /root/reference/transformation.py:143-168,
    are edit-distance territory: token-set Jaccard can't see
    single-character typos).

    Two published candidate-generation schemes, picked by ``method``
    (``auto`` = deletion neighborhoods for max_distance <= 2 AND a
    measured p99 value length under 64 (k=1) / 32 (k=2) chars —
    variants grow O(L^k) per value, so long-string domains fall back
    to q-grams):

    ``deletion`` — FastSS (Bocek et al., "Fast Similarity Search in
    Large Dictionaries", 2007; the SymSpell scheme): each DISTINCT
    value emits every variant reachable by <= k character deletions
    (L+1 variants at k=1); ed(a,b) <= k implies a and b share such a
    variant (delete the substituted/inserted/deleted positions from
    each side), so candidates come from an equi-join on variant
    strings whose buckets are near-singleton — candidates ~ true
    pairs, no hot-token sensitivity. The variant count grows
    O(L^k), hence the k <= 2 gate.

    ``qgram`` — the Ed-Join scheme (Xiao, Wang, Lin, "Ed-Join: an
    efficient algorithm for similarity joins with edit distance
    constraints", VLDB'08), set-semantics variant:

    - one edit destroys at most ``q`` distinct q-grams, so
      ed(a,b) <= k implies ``|G(a) \\ G(b)| <= k*q``;
    - under a consistent global gram ordering (rarest first), two
      gram sets whose difference is bounded by k*q must share a gram
      within their first ``k*q + 1`` grams (prefix-filter lemma), so
      candidates come from an EQUI-join on prefix grams only;
    - strings with <= k*q grams (length <= k*q + q - 1) have no such
      guarantee; they go to a SHORT BUCKET joined by exploded
      length-band keys (|len(a) - len(b)| <= k is necessary for
      ed <= k). The bucket is bounded: its members are strings
      shorter than ~(k+1)*q+k chars, whose distinct cardinality is
      alphabet-limited — and the join runs on DISTINCT values, so a
      billion duplicate short strings cost one row here.
    - verification is exact ``F.levenshtein`` on candidates; the
      length filter applies to ALL candidate pairs.

    ``candidate_cap`` (qgram path only) bounds the prefix join's
    enumerated volume with an exact pre-flight estimate and fails
    loudly past it — the hot-gram cost model is documented at the gate
    in ``_candidates_qgram``. The Ed-Join COUNT FILTER
    (|G(a) ∩ G(b)| >= max(|G(a)|,|G(b)|) - k*q) prunes enumerated
    candidates before the exact verify.

    Lossless by the two bounds above (the count filter is implied by
    ed <= k, never excludes a true pair); results equal the quadratic
    truth (property-tested against it in tests/test_properties.py).
    Scale posture: distinct-value dedup first, then equi-joins and
    hash aggs only; the gram-frequency table is a broadcast; output
    pairs are ordered left < right (self-join halves come out once).
    """
    if max_distance < 1:
        raise ValueError(f"max_distance must be >= 1, got {max_distance}")
    if method not in ("auto", "deletion", "qgram"):
        raise ValueError(f"unknown method {method!r}")
    k, p = max_distance, max_distance * q + 1
    short_len = max_distance * q + q - 1  # <= k*q grams ⇒ no prefix guarantee

    self_join = left is right and left_col == right_col
    # materialize the distinct value sets ONCE (r19, §2.4/§5): every
    # downstream consumer re-executed the scan+distinct subtree —
    # p99 probe, variant/gram derivation (BOTH union branches per
    # deletion round), count-filter gram sets, short bucket — the
    # before-plan showed the input scanned 10x for one self-join.
    # The frames are the DISTINCT value domains (bounded, exactly what
    # the join is declared over), the same class the qgram path's
    # prefix checkpoints already materialize.
    lv = materialize(
        left.select(F.col(left_col).alias("lval"))
        .where(F.col("lval").isNotNull())
        .distinct()
    )
    rv = (
        lv.select(F.col("lval").alias("rval"))
        if self_join
        else materialize(
            right.select(F.col(right_col).alias("rval"))
            .where(F.col("rval").isNotNull())
            .distinct()
        )
    )

    p99: int | None = None
    if method == "auto" or count_filter == "auto":
        # p99 value length: one cheap agg over data the join scans
        # anyway; drives both the auto method choice and the auto
        # count-filter decision
        vals = lv if self_join else lv.unionAll(rv.select(F.col("rval").alias("lval")))
        p99 = vals.agg(F.percentile_approx(F.length("lval"), 0.99)).first()[0] or 0
    if method == "auto":
        # the deletion path emits O(L^k) variants per DISTINCT value, so
        # "k <= 2" alone is not a safe gate: long strings (addresses,
        # descriptions) explode candidate generation. Require the p99
        # length under a per-k cutoff — ~64 variants/value worst case —
        # else fall back to q-grams.
        if k <= 2 and p99 <= (64 if k == 1 else 32):
            method = "deletion"
        else:
            method = "qgram"
    if count_filter == "auto":
        # the count filter trades two candidate-volume equi-joins for
        # skipped levenshtein verifies: levenshtein is O(L^2) per pair,
        # the set-intersect O(L) — the trade only pays on LONG strings
        # (measured: on 18-char customer names it more than doubled the
        # qgram path's cost; on description-length strings it wins)
        count_filter = p99 >= 64

    if method == "deletion":
        cand = _candidates_deletion(lv, rv, k, self_join=self_join)
    else:
        cand = _candidates_qgram(lv, rv, k, q, p, short_len, candidate_cap)

    pair_filter = (
        F.col("lval") < F.col("rval")  # self-join: each unordered pair once
        if ordered_pairs
        else F.col("lval") != F.col("rval")
    )
    cand = cand.where(
        pair_filter & (F.abs(F.length("lval") - F.length("rval")) <= k)
    ).distinct()
    if method == "qgram" and count_filter:
        # Ed-Join COUNT FILTER, applied pre-verify: one edit touches at
        # most q distinct gram strings, so ed(a,b) <= k forces
        # |G(a) ∩ G(b)| >= max(|G(a)|, |G(b)|) - k*q. Gram sets are
        # per-DISTINCT-value equi-joins (AQE broadcasts them when the
        # distinct side is small), and the set-intersect is O(g) per
        # pair vs levenshtein's O(L^2) — the filter pays for itself
        # exactly on the long strings the auto gate routes here.
        # (Short-bucket members can carry empty gram arrays;
        # max(0 - k*q, ...) is never > 0, so they pass untouched.)
        lsets = lv.select("lval", _qgrams(F.col("lval"), q).alias("__lg"))
        rsets = rv.select("rval", _qgrams(F.col("rval"), q).alias("__rg"))
        cand = (
            cand.join(lsets, "lval")
            .join(rsets, "rval")
            .where(
                F.size(F.array_intersect("__lg", "__rg"))
                >= F.greatest(F.size("__lg"), F.size("__rg")) - k * q
            )
            .drop("__lg", "__rg")
        )
    dist = F.levenshtein("lval", "rval")
    return (
        cand.select("lval", "rval", dist.cast("int").alias("dist"))
        .where(F.col("dist") <= k)
    )


def _candidates_deletion(
    lv: DataFrame, rv: DataFrame, k: int, self_join: bool = False
) -> DataFrame:
    # join on the 8-byte hash of the variant, not the variant string:
    # halves the shuffle width, and a hash collision can only produce a
    # candidate the exact levenshtein verify rejects (lossless either
    # way, over-generation is filtered)
    lvar = _deletion_variants(lv, "lval", k).select(
        "lval", F.xxhash64("variant").alias("vh")
    )
    if self_join:
        # same distinct values: derive, don't recompute — and
        # materialize ONCE (r19): without the checkpoint the whole
        # variant explode + distinct subtree executes twice, once per
        # side of the self-join
        lvar = materialize(lvar)
        rvar = lvar.select(F.col("lval").alias("rval"), "vh")
    else:
        rvar = _deletion_variants(rv, "rval", k).select(
            "rval", F.xxhash64("variant").alias("vh")
        )
    return lvar.join(rvar, "vh").select("lval", "rval")


def _candidates_qgram(
    lv: DataFrame,
    rv: DataFrame,
    k: int,
    q: int,
    p: int,
    short_len: int,
    candidate_cap: int | None = None,
) -> DataFrame:
    lg = lv.select("lval", _qgrams(F.col("lval"), q).alias("grams"))
    rg = rv.select("rval", _qgrams(F.col("rval"), q).alias("grams"))

    # global rare-first gram ordering over BOTH inputs (only has to be
    # consistent; the union keeps one frequency table)
    freq = (
        lg.select(F.explode("grams").alias("gram"))
        .unionAll(rg.select(F.explode("grams").alias("gram")))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("freq"))
    )

    def prefixed(g: DataFrame, val: str) -> DataFrame:
        return (
            g.select(val, F.explode("grams").alias("gram"))
            .join(F.broadcast(freq), "gram")
            .groupBy(val)
            .agg(
                F.slice(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("freq", "gram"))),
                        lambda s: s["gram"],
                    ),
                    1,
                    p,
                ).alias("prefix")
            )
            .select(val, F.explode("prefix").alias("gram"))
        )

    pl = prefixed(lg.where(F.length("lval") > short_len), "lval")
    pr = prefixed(rg.where(F.length("rval") > short_len), "rval")
    if candidate_cap is not None:
        # materialize the prefix derivation once: the volume estimate
        # below and the candidate join both read it, and the rare-first
        # prefix computation (freq join + per-value sort/slice) is the
        # expensive half of candidate generation. n_values * (k*q+1)
        # rows — small
        pl = materialize(pl)
        pr = materialize(pr)
        # HOT-GRAM GATE (measured cost model, round-7): the prefix join
        # enumerates Σ_gram |L_gram|·|R_gram| rows BEFORE any filter —
        # on low-entropy domains (strings sharing a long common
        # prefix/charset, e.g. 'Customer#000000001') even the rarest
        # k*q+1 grams are globally hot, and the volume explodes
        # combinatorially: measured 21M pairs at k=1 and 650M at k=3
        # from just 15k distinct names (~n^2 * bands). The estimate
        # below is EXACT (two tiny per-gram count aggs over data the
        # join scans anyway) and fails loudly instead of silently
        # running an hours-long join. Remedies in the message; the
        # deletion path's full-string-derived keys stay selective on
        # exactly these domains, which is why auto prefers it for k<=2.
        est = (
            pl.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("ln"))
            .join(pr.groupBy("gram").agg(F.count(F.lit(1)).alias("rn")), "gram")
            .agg(F.sum(F.col("ln") * F.col("rn")).alias("vol"))
            .first()["vol"]
        ) or 0
        if est > candidate_cap:
            raise ValueError(
                f"qgram candidate volume {est:,} exceeds candidate_cap "
                f"{candidate_cap:,}: the k*q+1-prefix grams are hot (low-"
                "entropy value domain), so the prefix equi-join would "
                "enumerate ~n^2-scale pairs. Use method='deletion' "
                "(k <= 2), raise q (longer, rarer grams), pre-block the "
                "join on another column, or pass candidate_cap=None / a "
                "higher cap to accept the cost."
            )
    cand_long = pl.join(pr, "gram").select("lval", "rval")
    # short bucket: every pair where EITHER side lacks the gram
    # guarantee — both members are then <= short_len + k chars
    sb_l = lv.where(F.length("lval") <= short_len + k)
    sb_r = rv.where(F.length("rval") <= short_len + k)
    cand_short = (
        sb_l.select(
            "lval",
            F.explode(
                F.sequence(
                    F.greatest(F.length("lval") - k, F.lit(0)), F.length("lval") + k
                )
            ).alias("blen"),
        )
        .join(sb_r.select("rval", F.length("rval").alias("blen")), "blen")
        .where((F.length("lval") <= short_len) | (F.length("rval") <= short_len))
        .select("lval", "rval")
    )
    return cand_long.unionAll(cand_short)


def _sorted_token_sets(df: DataFrame, id_col: str, text_col: str, freq: DataFrame) -> DataFrame:
    """(id, toks) with toks = distinct tokens sorted by (global freq
    asc, token) — the consistent ordering both sides must share."""
    from build_datawarehouse_demo_spark.operators.text import tokens

    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok")
    )
    return (
        tok.join(F.broadcast(freq), "tok")
        .groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("freq", "tok"))), lambda s: s["tok"]
            ).alias("toks")
        )
    )


def fuzzy_jaccard_candidates(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    left_id: str = "l_id",
    right_id: str = "r_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Candidate (left_id, right_id) pairs from the prefix filter, plus
    the sorted token sets for the verify stage. Exposed separately so
    tests can assert the candidate count stays near-linear under
    pathological (hot-token) distributions — the prefix filter's worst
    case — without running the verify join."""
    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from build_datawarehouse_demo_spark.operators.text import tokens

    both = left.select(tokens(F.col(text_col)).alias("ts")).unionAll(
        right.select(tokens(F.col(text_col)).alias("ts"))
    )
    freq = (
        both.select(F.explode(F.array_distinct("ts")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    l_sets = _sorted_token_sets(left, left_id, text_col, freq)
    r_sets = _sorted_token_sets(right, right_id, text_col, freq)

    def prefix(sets: DataFrame, id_col: str) -> DataFrame:
        n = F.size("toks")
        # epsilon guards the fp product: threshold*n landing a hair above
        # an exact integer would make ceil overshoot and shorten the
        # prefix by one, breaking the lossless bound
        plen = n - F.ceil(F.lit(threshold) * n - F.lit(1e-9)).cast("int") + 1
        return sets.select(
            F.col(id_col), F.explode(F.slice("toks", 1, plen)).alias("tok")
        )

    cand = (
        prefix(l_sets, left_id)
        .join(prefix(r_sets, right_id), "tok")
        .select(left_id, right_id)
        .distinct()
    )
    return cand, l_sets, r_sets


def fuzzy_jaccard_join(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    left_id: str = "l_id",
    right_id: str = "r_id",
    text_col: str = "text",
) -> DataFrame:
    """All (left_id, right_id, n_inter, jaccard) pairs with
    Jaccard(token set, token set) >= threshold, via prefix filtering.

    The global ordering comes from token frequencies over BOTH inputs
    (it only has to be consistent; using the union keeps one table).
    Rows with no tokens cannot reach any positive threshold and drop.
    """
    cand, l_sets, r_sets = fuzzy_jaccard_candidates(
        left, right, threshold, left_id, right_id, text_col
    )
    inter = F.size(F.array_intersect("l_toks", "r_toks"))
    return (
        cand.join(l_sets.select(left_id, F.col("toks").alias("l_toks")), left_id)
        .join(r_sets.select(right_id, F.col("toks").alias("r_toks")), right_id)
        .select(
            left_id,
            right_id,
            inter.cast("bigint").alias("n_inter"),
            (
                inter.cast("double")
                / (F.size("l_toks") + F.size("r_toks") - inter)
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
