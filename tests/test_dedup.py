"""Dedup operator semantics on crafted near/exact duplicates."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.operators.dedup import (
    exact_dedup,
    hash32,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    shingle_arrays,
    simhash,
    simhash_near_pairs,
)
from tests import jvm_reference

DOC = "the quick brown fox jumps over the lazy dog again and again today"


def test_hash32_matches_python_md5(spark):
    df = spark.createDataFrame([("abc",)], "s string")
    got = df.select(hash32(F.col("s"), seed=7).alias("h")).collect()[0].h
    expect = int(hashlib.md5(b"7:abc").hexdigest()[:8], 16)
    assert got == expect


def test_exact_dedup_groups_identical_texts(spark):
    df = spark.createDataFrame(
        [(1, DOC), (2, DOC), (3, "something else entirely here")], "doc_id long, text string"
    )
    out = {(r.keep_id, r.n_copies) for r in exact_dedup(df).collect()}
    assert out == {(1, 2), (3, 1)}


def test_shingle_arrays_short_doc_empty(spark):
    df = spark.createDataFrame([(1, "only two")], "doc_id long, text string")
    assert shingle_arrays(df, k=3).collect()[0].shingles == []


def test_minhash_finds_near_duplicate(spark):
    near = DOC.replace("today", "tomorrow")  # one-token edit
    far = "completely different words about spark partitions and shuffles everywhere"
    df = spark.createDataFrame(
        [(1, DOC), (2, near), (3, far)], "doc_id long, text string"
    )
    pairs = {(r.id_a, r.id_b) for r in minhash_dedup_pairs(df, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert all(3 not in p for p in pairs)


def test_simhash_identical_docs_equal_and_near_pairs(spark):
    df = spark.createDataFrame([(1, DOC), (2, DOC)], "doc_id long, text string")
    sigs = simhash(df)
    vals = {r.doc_id: r.simhash for r in sigs.collect()}
    assert vals[1] == vals[2]
    pairs = simhash_near_pairs(sigs).collect()
    assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_ngram_jaccard_blocked(spark):
    df = spark.createDataFrame(
        [
            (1, DOC, "en", "s1"),
            (2, DOC + " extra", "en", "s1"),
            (3, DOC, "de", "s1"),  # other block: never compared
        ],
        "doc_id long, text string, lang string, source string",
    )
    pairs = ngram_jaccard_pairs(df, block_cols=("lang", "source"), threshold=0.5).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


def _union_find_components(edges) -> set:
    """(node, component) for every node of ``edges``, component = the
    min node of its connected component: the pure-Python reference the
    Spark component operator is checked against."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(n, find(n)) for n in parent}


def test_connected_components_chain_and_singletons(spark):
    """(a,b),(b,c) must collapse to one component with min-id rep;
    disjoint pairs stay separate; unpaired docs are their own
    singleton component."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        connected_components_star,
        dedup_keep_representatives,
    )

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 7), (10, 11)], "id_a long, id_b long"
    )
    comp = {r.node: r.component for r in connected_components_star(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}

    docs = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 10, 11, 99)], "doc_id long")
    got = {
        r.doc_id: (r.component_id, r.is_kept)
        for r in dedup_keep_representatives(docs, connected_components_star(pairs)).collect()
    }
    assert got[99] == (99, True)  # unpaired -> own singleton
    assert [d for d, (c, kept) in got.items() if kept] == sorted(
        d for d, (c, kept) in got.items() if kept
    )
    assert {c for c, _ in got.values()} == {1, 10, 99}
    assert sum(kept for _, kept in got.values()) == 3  # one rep per component


def test_connected_components_star_matches_union_find(spark):
    """Large-star/small-star contraction must produce the same
    (node, component) labeling as a union-find on every graph shape —
    chains, hubs, random graphs, self-pairs (VERDICT round 2 item 8)."""
    import random

    from build_datawarehouse_demo_spark.operators.dedup import connected_components_star

    assert _union_find_components([(2, 1), (3, 3), (4, 5)]) == {
        (1, 1), (2, 1), (3, 3), (4, 4), (5, 4)
    }
    random.seed(7)
    shapes = {
        "chain": [(i, i + 1) for i in range(30)],
        "hub": [(0, i) for i in range(1, 20)],
        "random": [(random.randint(0, 60), random.randint(0, 60)) for _ in range(80)],
        "self_and_disjoint": [(1, 2), (2, 3), (10, 11), (12, 11), (5, 5)],
        "chain_200": [(i + 1, i) for i in range(199)],
    }
    for label, edges in shapes.items():
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        star = {(r.node, r.component) for r in connected_components_star(pairs).collect()}
        want = _union_find_components(edges)
        assert star == want, f"{label}: star {star ^ want}"


def test_connected_components_star_deep_chain(spark):
    """The O(log n) contraction converges on a 200-node chain in the
    default round budget — the shape where diameter-bound propagation
    cannot (it would need ~200 rounds)."""
    from build_datawarehouse_demo_spark.operators.dedup import connected_components_star

    chain = spark.range(199).selectExpr("id AS id_a", "id + 1 AS id_b")
    got = connected_components_star(chain)
    assert got.count() == 200
    assert {r.component for r in got.select("component").distinct().collect()} == {0}


def test_connected_components_star_empty(spark):
    from build_datawarehouse_demo_spark.operators.dedup import connected_components_star

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components_star(pairs).count() == 0


def test_connected_components_raises_on_no_convergence(spark):
    import pytest as _pytest

    from build_datawarehouse_demo_spark.operators.dedup import connected_components_star

    # a 6-node path needs several contraction rounds; cap at 1 must
    # raise, not return an under-merged labeling
    path = spark.createDataFrame([(i, i + 1) for i in range(1, 6)], "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="converge"):
        connected_components_star(path, max_iterations=1)


def test_connected_components_empty_pairs(spark):
    from build_datawarehouse_demo_spark.operators.dedup import (
        connected_components_star,
        dedup_keep_representatives,
    )

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components_star(pairs).count() == 0
    docs = spark.createDataFrame([(5,), (6,)], "doc_id long")
    got = {r.doc_id: (r.component_id, r.is_kept)
           for r in dedup_keep_representatives(docs, connected_components_star(pairs)).collect()}
    assert got == {5: (5, True), 6: (6, True)}


def test_minhash_auto_params_law_and_candidate_growth(spark):
    """The text-lane twin of the round-6 embedding fix: (1) the
    parameter law — rows grow with ln(n), the recall constraint holds
    at every n; (2) measured on a LOW-ENTROPY corpus (high background
    Jaccard, the adversarial case), fixed 16/4 banding's candidates
    grow super-linearly at 4x docs while auto-sized banding's stay
    near-linear."""
    import random

    from build_datawarehouse_demo_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_auto_params,
        minhash_signatures_from_arrays,
        minhash_dedup_pairs,
        shingle_arrays,
    )

    # (1) parameter law
    prev_r = 0
    for n in (100, 10_000, 1_000_000, 10**9):
        b, r = minhash_auto_params(n)
        assert r >= prev_r
        prev_r = r
        assert 1 - (1 - 0.8**r) ** b >= 0.93  # recall constraint
    assert minhash_auto_params(10**9)[1] > minhash_auto_params(500)[1]

    # (2) candidate growth, fixed vs auto, 4x corpus
    rng = random.Random(13)
    vocab = [f"w{i}" for i in range(14)]

    def corpus(n):
        rows = [(i, " ".join(rng.choices(vocab, k=10))) for i in range(n)]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def n_cand(df, nh, nb):
        sh = shingle_arrays(df)
        return lsh_candidate_pairs(
            minhash_signatures_from_arrays(sh, nh), nh, nb
        ).count()

    small, big = corpus(300), corpus(1200)
    fixed_growth = n_cand(big, 16, 4) / max(n_cand(small, 16, 4), 1)
    ab, ar = minhash_auto_params(1200, background_jaccard=0.3)
    sb, sr = minhash_auto_params(300, background_jaccard=0.3)
    auto_growth = n_cand(big, ab * ar, ab) / max(n_cand(small, sb * sr, sb), 1)
    # 4x docs: quadratic background -> ~16x; linear -> ~4x
    assert auto_growth < fixed_growth
    assert auto_growth < 9, (auto_growth, fixed_growth)

    # auto mode end-to-end still verifies candidates exactly
    out = minhash_dedup_pairs(small, num_hashes=None, bands=None, threshold=0.9)
    assert out.columns == ["id_a", "id_b", "jaccard"]

    # r7 ADVICE: a PARTIAL None must raise, not silently mix one auto
    # parameter with one manual one (which voided the recall law)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="together"):
        minhash_dedup_pairs(small, num_hashes=None, bands=4)
    with _pytest.raises(ValueError, match="together"):
        minhash_dedup_pairs(small, num_hashes=16, bands=None)


def test_duplicate_substring_spans(spark):
    """Lee-et-al substring spans (r8): a 5-token boilerplate shared by
    two docs reports at its exact 1-based position in EACH doc with
    n_docs=2; a window repeated only WITHIN one doc (min_docs=2) stays
    silent; docs shorter than the window are skipped; unique text
    emits nothing."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        duplicate_substring_spans,
    )

    boiler = "all rights reserved by corp"
    docs = [
        (1, f"intro text here {boiler} tail"),           # boiler at pos 4
        (2, f"{boiler} unique body two"),                # boiler at pos 1
        (3, "totally different content entirely here now"),
        (4, "rep rep rep rep rep rep"),                  # intra-doc repeat only
        (5, "short doc"),                                # < window
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.pos): r.n_docs
        for r in duplicate_substring_spans(df, window=5).collect()
    }
    assert got == {(1, 4): 2, (2, 1): 2}
    # min_docs=1 turns the intra-doc repeat visible too
    intra = duplicate_substring_spans(df, window=5, min_docs=1)
    assert {r.doc_id for r in intra.collect()} >= {1, 2, 3, 4}

    # doc-level rate: doc 1 has 5 windows (9 toks), 1 duplicated
    from build_datawarehouse_demo_spark.operators.dedup import (
        document_duplication_rate,
    )

    rates = {
        r.doc_id: (r.n_windows, r.n_dup_windows, r.dup_rate)
        for r in document_duplication_rate(df, window=5).collect()
    }
    assert rates[1] == (5, 1, 0.2)
    assert rates[3][1] == 0 and rates[3][2] == 0.0
    assert 5 not in rates  # shorter than the window: no windows to score


def test_simhash_collapse_and_rep_pairs(spark):
    """r8 scale-gate catch: the all-pairs shape is output-quadratic on
    clustered corpora (a k-doc identical-signature cluster emits k²/2
    Hamming-0 pairs). simhash_collapse maps every doc to its cluster's
    min-id canonical (linear); simhash_rep_pairs emits near pairs only
    BETWEEN distinct-signature representatives, and its hot-value
    sub-blocking lane returns the IDENTICAL pair set as the plain
    blocked join (lossless by the pigeonhole argument)."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        simhash,
        simhash_collapse,
        simhash_rep_pairs,
    )

    docs = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),      # exact dup of 1
        (3, "alpha beta gamma delta"),      # exact dup of 1
        (4, "omega psi chi phi"),
        (5, "omega psi chi phi upsilon"),   # near 4
        (6, "zz yy xx ww vv uu"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = simhash(df, bits=32)
    col = {
        r.doc_id: (r.canonical_id, r.cluster_size)
        for r in simhash_collapse(sigs).collect()
    }
    assert col[1] == (1, 3) and col[2] == (1, 3) and col[3] == (1, 3)
    assert col[6][1] == 1
    # rep pairs: identical-sig docs appear as ONE representative; the
    # hot lane (threshold 1 forces every group hot) returns the same set
    plain = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_rep_pairs(
            sigs, max_hamming=7, blocks=8, hot_threshold=None
        ).collect()
    }
    forced_hot = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_rep_pairs(
            sigs, max_hamming=7, blocks=8, hot_threshold=1
        ).collect()
    }
    assert plain == forced_hot
    assert all(a not in (2, 3) and b not in (2, 3) for a, b, _ in plain)
    assert all(h >= 1 for _, _, h in plain)


def test_remove_duplicate_spans(spark):
    """Span removal (Lee et al., acting half): the global owner (min
    doc_id containing the gram) keeps its copy; every other doc loses
    the covered tokens; a doc that IS entirely a duplicated span comes
    back empty (still present, with the removal count); unique and
    shorter-than-window docs pass through untouched."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    boiler = "all rights reserved by corp"
    docs = [
        (1, f"intro text here {boiler} tail"),
        (2, f"{boiler} unique body two"),
        (3, boiler),
        (4, "something else entirely different here"),
        (5, "tiny doc"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.cleaned_text, r.n_tokens, r.n_tokens_removed)
        for r in remove_duplicate_spans(df, window=5).collect()
    }
    assert got[1] == (docs[0][1], 9, 0)        # owner keeps everything
    assert got[2] == ("unique body two", 8, 5)
    assert got[3] == ("", 5, 5)                # wholly duplicated, not owner
    assert got[4] == (docs[3][1], 5, 0)
    assert got[5] == (docs[4][1], 2, 0)


def test_remove_duplicate_spans_protects_owned_overlaps(spark):
    """Review finding r8: overlapping duplicated spans with DIFFERENT
    owners. Doc 2 owns span 'a b c d e' but a foreign-owned span
    'x a b c d' overlaps it; without the protection clause doc 2 would
    be cut to just 'e' and the passage 'a b c d e' would survive
    contiguously nowhere. With it: the owner's span stays intact, only
    the unprotected foreign-covered token ('x') goes."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    docs = [
        (1, "x a b c d"),        # owns 'x a b c d'
        (2, "x a b c d e"),      # owns 'a b c d e'; 'x a b c d' foreign
        (3, "a b c d e"),        # owns nothing
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.cleaned_text, r.n_tokens_removed)
        for r in remove_duplicate_spans(df, window=5).collect()
    }
    assert got[1] == ("x a b c d", 0)
    assert got[2] == ("a b c d e", 1)   # 'x' cut, owned span intact
    assert got[3] == ("", 5)
    # the duplicated passage survives contiguously somewhere
    assert "a b c d e" in got[2][0]


def test_simhash_scalable_components_equal_doc_level(spark):
    """The collapse -> rep-pairs -> components composition yields the
    SAME final clustering as doc-level pairs -> components: same-sig
    docs are Hamming-0 neighbors, so collapsing them first cannot
    change connectivity, and the canonical (min id of the component)
    is preserved because each rep is its cluster's min id."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        connected_components_star,
        simhash,
        simhash_near_pairs,
        simhash_rep_pairs,
    )
    from pyspark.sql import functions as F

    docs = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),
        (3, "alpha beta gamma delta epsilon"),
        (4, "omega psi chi phi"),
        (5, "omega psi chi phi upsilon"),
        (6, "zz yy xx ww vv uu"),
        (7, "zz yy xx ww vv uu"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = simhash(df, bits=32)

    # doc-level: all pairs (hamming 0..3) -> components
    doc_pairs = simhash_near_pairs(sigs, max_hamming=3, blocks=4, bits=32)
    doc_comp = {
        r.node: r.component for r in connected_components_star(doc_pairs).collect()
    }
    doc_canon = {
        d: doc_comp.get(d, d) for d, _ in docs
    }
    # resolve transitively is unnecessary: component IS the min label

    # scalable: collapse + rep pairs -> components -> resolve via sig
    reps = sigs.groupBy("simhash").agg(F.min("doc_id").alias("rep_id"))
    rep_pairs = simhash_rep_pairs(sigs, max_hamming=3, blocks=4, bits=32)
    comp = connected_components_star(rep_pairs)
    out = {
        r.doc_id: r.canonical_id
        for r in sigs.join(reps, "simhash")
        .join(comp, F.col("rep_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("rep_id")).alias("canonical_id"),
        )
        .collect()
    }
    assert out == doc_canon


def test_simhash_auto_width_law_and_bucket_saturation(spark):
    """Third fixed-bucket-space instance: (1) the width law — blocks
    widen with log2(n), clamped to the hash60 ceiling; (2) measured on
    uniform synthetic signatures, fixed 8-bit blocks saturate (4x sigs
    -> ~16x candidates) while auto-sized widths keep growth ~linear."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        hash60,
        simhash_auto_width,
        simhash_near_pairs,
        simhash,
    )

    # (1) width law
    assert simhash_auto_width(500) == 8          # floor
    assert simhash_auto_width(50_000) == 10
    assert simhash_auto_width(10**9) == 15       # hash60 ceiling
    prev = 0
    for n in (100, 10_000, 10**6, 10**9):
        w = simhash_auto_width(n)
        assert w >= prev
        prev = w

    # (2) bucket saturation on uniform signatures (hash of an id range
    # stands in for simhash values — the blocking layer only sees a
    # long). Fixed 8-bit blocks: candidates ~ 4*n^2/256. Candidate
    # VOLUME is computed as sum over (block, value) buckets of
    # C(count, 2) — the exact pre-verify pair count the equi-join
    # enumerates, without materializing it.
    def n_cand(n, width):
        sigs = spark.range(n).select(
            (hash60(F.col("id").cast("string"))).alias("simhash")
        )
        blocked = sigs.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("blk"),
                            F.shiftright(F.col("simhash"), i * width)
                            .bitwiseAND((1 << width) - 1)
                            .alias("blk_val"),
                        )
                        for i in range(4)
                    ]
                )
            ).alias("b")
        )
        return (
            blocked.groupBy("b.blk", "b.blk_val")
            .count()
            .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
            .first()[0]
        )

    small, big = 12_500, 50_000
    fixed_growth = n_cand(big, 8) / max(n_cand(small, 8), 1)
    auto_growth = n_cand(big, simhash_auto_width(big)) / max(
        n_cand(small, simhash_auto_width(small)), 1
    )
    assert fixed_growth > 10, fixed_growth   # saturated: ~16x
    assert auto_growth < 8, (auto_growth, fixed_growth)

    # wide-signature simhash end-to-end still deterministic
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"), (3, "x y z w")],
        "doc_id long, text string",
    )
    sigs = simhash(df, bits=40)
    pairs = simhash_near_pairs(sigs, max_hamming=3, blocks=4, bits=40).collect()
    assert {(r.id_a, r.id_b, r.hamming) for r in pairs} == {(1, 2, 0)}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        simhash(df, bits=64)


def test_ngram_containment_catches_subset_jaccard_misses(spark):
    """A short doc quoted whole inside a much longer one: containment
    = 1.0 but Jaccard = |A|/|B| ≈ 0.3 — the asymmetric signal is the
    point of the operator (Broder 1997)."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma"
    long = short + " " + " ".join(f"w{i}" for i in range(7))
    df = spark.createDataFrame(
        [(0, short), (1, long), (2, "x y z")], "doc_id long, text string"
    )
    cont = ngram_containment_pairs(df, threshold=0.8).collect()
    assert [(r.id_a, r.id_b, r.containment) for r in cont] == [(0, 1, 1.0)]
    jac = ngram_jaccard_pairs(df, threshold=0.8).collect()
    assert jac == []  # Jaccard 3/10 misses it


def test_ngram_containment_matches_quadratic_truth(spark):
    from build_datawarehouse_demo_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    docs = {
        i: " ".join(f"t{(i * j) % 11}" for j in range(1, 8)) for i in range(20)
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.containment
        for r in ngram_containment_pairs(df, threshold=0.5).collect()
    }
    truth = {}
    toksets = {i: set(t.split()) for i, t in docs.items()}
    for a in docs:
        for b in docs:
            if a < b:
                inter = len(toksets[a] & toksets[b])
                c = inter / min(len(toksets[a]), len(toksets[b]))
                if c >= 0.5:
                    truth[(a, b)] = c
    assert got == truth


def test_dedup_keep_best_prefers_rank_then_min_id(spark):
    """Quality-aware keep (r17): per component the survivor maximizes
    (rank, then smallest id) — NOT the min id; singletons keep
    themselves; a rank tie falls back to the smaller id."""
    from build_datawarehouse_demo_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [
            # component {1,2,3}: doc 2 is longest -> kept over min id 1
            (1, 10), (2, 99), (3, 50),
            # component {7,8}: rank TIE -> smaller id 7 kept
            (7, 20), (8, 20),
            # singleton
            (9, 5),
        ],
        "doc_id long, n_chars long",
    )
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7)], "node long, component long"
    )
    got = {
        r["doc_id"]: (r["component_id"], r["is_kept"])
        for r in dedup_keep_best(docs, comp, rank_col="n_chars").collect()
    }
    assert got == {
        1: (1, False), 2: (1, True), 3: (1, False),
        7: (7, True), 8: (7, False),
        9: (9, True),
    }


def test_dedup_soft_weights_one_unit_per_class(spark):
    """Soft dedup (r17): every member kept, weight 1/|component| — a
    duplicate class contributes exactly one unit of loss mass;
    singletons weigh 1.0."""
    from build_datawarehouse_demo_spark.operators.dedup import dedup_soft_weights

    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (9, "z")], "doc_id long, text string"
    )
    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], "node long, component long"
    )
    rows = {r["doc_id"]: r for r in dedup_soft_weights(docs, comp).collect()}
    assert len(rows) == 4  # nothing dropped
    assert rows[9]["n_members"] == 1 and rows[9]["weight"] == 1.0
    assert all(rows[i]["component_id"] == 1 for i in (1, 2, 3))
    assert abs(sum(rows[i]["weight"] for i in (1, 2, 3)) - 1.0) < 1e-5


def test_keep_best_supports_string_ids(spark):
    """r17 ADVICE portability fix: the keep-best tiebreak never negates
    the ID (min_by over (rank IS NULL, -rank, id)), so string ids work
    — rank preference, rank-tie -> lexicographically smaller id, and a
    NULL rank loses to any non-null rank."""
    from build_datawarehouse_demo_spark.operators.dedup import dedup_keep_best

    docs = spark.createDataFrame(
        [
            ("url/a", 10.0), ("url/b", 99.0), ("url/c", None),
            ("url/x", 7.0), ("url/y", 7.0),
            ("url/z", None),  # singleton with NULL rank keeps itself
        ],
        "doc_id string, score double",
    )
    comp = spark.createDataFrame(
        [("url/a", "url/a"), ("url/b", "url/a"), ("url/c", "url/a"),
         ("url/x", "url/x"), ("url/y", "url/x")],
        "node string, component string",
    )
    got = {
        r["doc_id"]: r["is_kept"]
        for r in dedup_keep_best(docs, comp, rank_col="score").collect()
    }
    assert got == {
        "url/a": False, "url/b": True, "url/c": False,  # rank wins
        "url/x": True, "url/y": False,                  # tie -> smaller id
        "url/z": True,
    }


def test_minhash_kernel_identical(spark):
    """minhash_signatures_from_arrays (the Arrow kernel) must be
    BIT-IDENTICAL to the JVM array_min/transform fold
    (tests/jvm_reference.py) —
    including NULL/empty shingle arrays (NULL signatures) and NULL
    elements (skipped, as array_min skips the null-propagated hash).
    Full-fixture equivalence (sf0.1 + sf1 survivor corpora,
    row-identical) is recorded in OPTIMIZATION_r20.md."""
    from build_datawarehouse_demo_spark.operators.dedup import (
        minhash_signatures_from_arrays,
    )

    rows = [
        (0, ["a b c", "b c d", "c d e"]),
        (1, ["a b c"]),                       # single shingle
        (2, []),                              # empty -> NULL signature
        (3, None),                            # NULL array -> NULL signature
        (4, ["a b c", None, "z z z"]),        # NULL element skipped
        (5, ["a b c", "b c d", "c d e"]),     # duplicate set of doc 0
        (6, ["\u00e9 accent gram", "tab\tinside", ""]),  # unicode + empty string
    ]
    df = spark.createDataFrame(rows, "doc_id long, shingles array<string>")
    for H in (4, 24):
        jvm = sorted(
            tuple(r)
            for r in jvm_reference.minhash_signatures_from_arrays(
                df, H, "doc_id"
            ).collect()
        )
        arw = sorted(
            tuple(r) for r in minhash_signatures_from_arrays(df, H, "doc_id").collect()
        )
        assert jvm == arw, (H, jvm[:2], arw[:2])
