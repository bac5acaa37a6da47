"""Property-based tests (hypothesis): operators vs pure-Python models.

Each example is a BATCH of inputs turned into one DataFrame, so a
property run costs a handful of Spark jobs, not hundreds.
"""

from __future__ import annotations

import hashlib
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from build_datawarehouse_demo_spark.operators.dedup import hash32, shingle_arrays
from build_datawarehouse_demo_spark.operators.flatten import explode_delimited

SET = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

texts = st.lists(
    st.text(alphabet=st.characters(whitelist_categories=("Ll", "Nd"), max_codepoint=0x7F), max_size=12),
    max_size=8,
)


@given(data=st.lists(texts, min_size=1, max_size=20))
@SET
def test_explode_delimited_matches_python_model(spark, data):
    rows = [(i, ", ".join(words)) for i, words in enumerate(data)]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {(r.id, r.tok) for r in explode_delimited(df, "s", "tok", keep_cols=("id",)).collect()}
    expect = set()
    for i, words in enumerate(data):
        joined = ", ".join(words)
        for part in re.split(r",\s*", joined):
            part = part.strip()
            if part:
                expect.add((i, part))
    assert got == expect


@given(strings=st.lists(st.text(max_size=30), min_size=1, max_size=30), seed=st.integers(0, 100))
@SET
def test_hash32_matches_python_model(spark, strings, seed):
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)], "i long, s string")
    got = {r.i: r.h for r in df.select("i", hash32(F.col("s"), seed=seed).alias("h")).collect()}
    for i, s in enumerate(strings):
        expect = int(hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[:8], 16)
        assert got[i] == expect


@given(docs=st.lists(texts, min_size=1, max_size=10), k=st.integers(2, 4))
@SET
def test_shingle_arrays_matches_python_model(spark, docs, k):
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.doc_id, sh) for r in shingle_arrays(df, k=k).collect() for sh in r.shingles}
    expect = set()
    for i, words in enumerate(docs):
        toks = [w for w in " ".join(words).strip().split() if w]
        for j in range(len(toks) - k + 1):
            sh = " ".join(toks[j : j + k])
            if sh:
                expect.add((i, sh))
    assert got == expect


@given(
    left_docs=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=0, max_size=6), min_size=1, max_size=8
    ),
    right_docs=st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=0, max_size=6), min_size=1, max_size=6
    ),
    threshold=st.sampled_from([0.34, 0.5, 0.75, 1.0]),
)
@SET
def test_fuzzy_jaccard_join_matches_python_model(spark, left_docs, right_docs, threshold):
    """Prefix filtering must be LOSSLESS: results equal the quadratic
    Jaccard truth computed in pure Python, for any corpus and
    threshold — the property the candidate-pruning bound guarantees."""
    from build_datawarehouse_demo_spark.operators.fuzzy_join import fuzzy_jaccard_join

    left = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(left_docs)], "l_id long, text string"
    )
    right = spark.createDataFrame(
        [(i, " ".join(d)) for i, d in enumerate(right_docs)], "r_id long, text string"
    )
    got = {
        (r["l_id"], r["r_id"]) for r in fuzzy_jaccard_join(left, right, threshold).collect()
    }
    expect = set()
    for i, dl in enumerate(left_docs):
        for j, dr in enumerate(right_docs):
            a, b = set(dl), set(dr)
            if a and b and len(a & b) / len(a | b) >= threshold:
                expect.add((i, j))
    assert got == expect


def _ed(a: str, b: str) -> int:
    """Plain DP Levenshtein (unit costs) — the quadratic truth."""
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(
    words=st.lists(
        st.text(alphabet=st.sampled_from("abc"), max_size=7), min_size=1, max_size=18
    ),
    k=st.integers(1, 3),
)
@SET
def test_levenshtein_band_join_matches_python_model(spark, words, k):
    """BOTH candidate paths (deletion neighborhood, Ed-Join q-grams)
    must be LOSSLESS: the banded join equals the quadratic edit-
    distance truth for any corpus, including empty strings and strings
    shorter than q."""
    from build_datawarehouse_demo_spark.operators.fuzzy_join import levenshtein_band_join

    df = spark.createDataFrame([(w,) for w in words], "name string")
    vals = sorted(set(words))
    expect = {
        (a, b, _ed(a, b))
        for ia, a in enumerate(vals)
        for b in vals[ia + 1 :]
        if _ed(a, b) <= k
    }
    for method in ("deletion", "qgram"):
        got = {
            (r.lval, r.rval, r.dist)
            for r in levenshtein_band_join(
                df, df, k, "name", "name", method=method
            ).collect()
        }
        assert got == expect, method


@given(
    base=st.lists(
        st.tuples(st.integers(0, 15), st.integers(1, 3), st.integers(0, 99)),
        min_size=1,
        max_size=12,
        unique_by=lambda r: r[0],
    ),
    feed=st.lists(
        st.tuples(
            st.integers(0, 18),  # id (may be new)
            st.integers(0, 99),  # new value
            st.booleans(),  # delete?
        ),
        max_size=10,
    ),
)
@SET
def test_merge_partitioned_matches_python_model(spark, tmp_path_factory, base, feed):
    """merge_into_partitioned_parquet == the dict-model MERGE for any
    base table and CDC feed (keys' partitions fixed: base partition
    when the key exists, id % 3 + 1 for inserts; later feed rows win)."""
    from build_datawarehouse_demo_spark.operators.merge import (
        merge_into_partitioned_parquet,
    )

    path = str(tmp_path_factory.mktemp("merge_prop") / "t")
    bdf = spark.createDataFrame(
        [(i, p, float(v)) for i, p, v in base], "id long, part int, v double"
    )
    bdf.write.mode("overwrite").partitionBy("part").parquet(path)

    part_of = {i: p for i, p, _ in base}
    rows = []
    for seq, (i, v, is_del) in enumerate(feed, start=1):
        p = part_of.get(i, i % 3 + 1)
        rows.append((i, p, float(v), "D" if is_del else "U", seq))
    fdf = spark.createDataFrame(
        rows, "id long, part int, v double, op string, seq int"
    )
    merge_into_partitioned_parquet(spark, path, fdf, ["id"], ["seq", "id"], "part")

    model = {i: (p, float(v)) for i, p, v in base}
    for i, p, v, op, _seq in rows:
        if op == "D":
            model.pop(i, None)
        else:
            model[i] = (p, v)
    got = {r.id: (r.part, r.v) for r in spark.read.parquet(path).collect()}
    assert got == model


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "dd", "eee"]), min_size=0, max_size=40
        ),
        min_size=1,
        max_size=8,
    ),
    n=st.integers(2, 6),
)
@SET
def test_dup_gram_chars_fold_matches_python_model(spark, docs, n):
    """The r12 run-length fold (_dup_gram_chars_fold) equals the brute
    Counter model — sum of count*len over grams occurring >= 2 times —
    on small-alphabet token streams engineered to produce heavy
    duplicate runs, boundary runs, and empty gram arrays."""
    from collections import Counter

    from build_datawarehouse_demo_spark.operators.text import (
        _dup_gram_chars_fold,
        ngram_array,
        tokens,
    )

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "id long, text string")
    grams = F.array_sort(ngram_array(tokens("text"), n))
    got = {
        r.id: r.c
        for r in df.select("id", _dup_gram_chars_fold(grams).alias("c")).collect()
    }
    for i, toks in enumerate(docs):
        gs = [" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)]
        expect = sum(c * len(g) for g, c in Counter(gs).items() if c >= 2)
        assert got[i] == expect, (i, n, toks)


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=199),          # id
            st.integers(min_value=0, max_value=5),            # component bucket
            st.one_of(st.none(), st.integers(-50, 50)),       # rank (nullable)
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
@SET
def test_keep_best_matches_python_argmax(spark, rows):
    """dedup_keep_best's keeper per component == the pure-Python
    argmax of (rank, then smallest id) with NULL ranks losing to any
    non-null rank — over random components, random nullable ranks and
    STRING ids (the r18 portability seam)."""
    from build_datawarehouse_demo_spark.operators.dedup import dedup_keep_best

    data = [(f"id{i:03d}", b, r) for i, b, r in rows]
    comp_label = {}
    for sid, b, _ in data:
        comp_label.setdefault(b, sid)  # arbitrary stable label per bucket
    docs = spark.createDataFrame(
        [(sid, None if r is None else float(r)) for sid, _, r in data],
        "doc_id string, rank double",
    )
    comp = spark.createDataFrame(
        [(sid, comp_label[b]) for sid, b, _ in data],
        "node string, component string",
    )
    got = {
        r["doc_id"]: r["is_kept"]
        for r in dedup_keep_best(docs, comp, rank_col="rank").collect()
    }
    # python model: per bucket, keeper minimizes (rank is None, -rank, id)
    expect = {}
    by_bucket: dict = {}
    for sid, b, r in data:
        by_bucket.setdefault(b, []).append((sid, r))
    for b, members in by_bucket.items():
        keeper = min(
            members,
            key=lambda t: (t[1] is None, -(t[1] if t[1] is not None else 0), t[0]),
        )[0]
        for sid, _ in members:
            expect[sid] = sid == keeper
    assert got == expect
