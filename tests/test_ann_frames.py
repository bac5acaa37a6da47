"""RP-LSH ANN bucketing + frame sampling."""

from __future__ import annotations

import hashlib

import numpy as np

from build_datawarehouse_demo_spark.operators.multimodal import attach_binary, sample_frames
from build_datawarehouse_demo_spark.operators.similarity import (
    ann_rp_lsh_topk,
    rp_planes,
    rp_signature_staged,
)

from pyspark.sql import functions as F


def test_rp_planes_deterministic():
    a, b = rp_planes(4, 8), rp_planes(4, 8)
    assert a == b
    assert all(x in (1.0, -1.0) for row in a for x in row)


def test_rp_signature_colinear_vectors_same_bucket(spark):
    rng = np.random.default_rng(3)
    v = rng.normal(size=16)
    rows = [(0, [float(x) for x in v]), (1, [float(x) * 2.5 for x in v])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    planes = rp_planes(6, 16)
    sigs = {
        r.vec_id: r.s
        for r in rp_signature_staged(
            df.withColumn("embedding", F.col("embedding").cast("array<double>")),
            "embedding",
            planes,
            "s",
        ).collect()
    }
    assert sigs[0] == sigs[1]  # scaling never crosses a hyperplane


def test_ann_lsh_finds_colinear_neighbor(spark):
    rng = np.random.default_rng(5)
    mat = rng.normal(size=(30, 16))
    mat[7] = mat[0] * 3.0
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)],
        "vec_id long, embedding array<float>",
    )
    probes = df.filter("vec_id = 0").selectExpr("vec_id AS probe_id", "embedding")
    got = ann_rp_lsh_topk(df, probes, k=3, n_planes=4, dim=16).collect()
    top = min(got, key=lambda r: r.rank)
    assert top.vec_id == 7 and abs(top.cosine - 1.0) < 1e-6


def test_sample_frames_matches_python(spark):
    text = "x" * 100
    df = attach_binary(spark.createDataFrame([(1, text)], "doc_id long, text string"))
    rows = sorted(
        ((r.frame_idx, r.frame_off, r.frame_md5) for r in sample_frames(df).collect())
    )
    payload = text.encode()
    expect = [
        (i, off, hashlib.md5(payload[off : off + 16]).hexdigest())
        for i, off in enumerate(range(0, len(payload) - 15, 32))
    ]
    assert rows == expect


def test_sample_frames_short_payload_empty(spark):
    df = attach_binary(spark.createDataFrame([(1, "tiny")], "doc_id long, text string"))
    assert sample_frames(df).count() == 0
