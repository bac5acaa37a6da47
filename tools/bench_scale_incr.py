"""Scale bench for the INCREMENTAL pipeline applies (r14, VERDICT r13
item 4): fix the refresh batch, grow the STORED corpus, and measure
the apply wall time — the daily-operation claim ("fold a batch
without recompute") finally gets a committed curve. The batch is a
RE-CRAWL slice: the stored corpus's first ``batch_docs`` documents
redelivered verbatim under fresh monotone ids (on the duplicate-heavy
fixtures this is exactly the hot-group × hot-batch shape whose
new-old band-key join was the r13 judge's `weak` mark) plus a fixed
tail of genuinely new documents, so both the fold-into-stored-group
path and the new-content path are on the measured clock.

Per leg (own subprocess, fresh JVM — the bench_scale.py discipline):
  build_s   state build over the stored corpus (context only — the
            one-time cost the incremental contract amortizes away)
  apply_s   median over ``runs`` applies: construct the refreshed
            state AND touch every returned frame (counts) — the
            full append-only fold including the lazy union reads a
            next fold would pay. This is the gated metric.

Output: the bench_scale.py artifact shape (queries → t_small/t_big/
ratio/exponent), keys ``clean_filter_dedup_apply`` and
``training_data_neardup_apply``, so tests/test_scale_gate.py picks
the file up as part of the newest-round cohort automatically.

Usage:
  python tools/bench_scale_incr.py [small_dir] [big_dir] [runs] [out]
  python tools/bench_scale_incr.py --leg <sf_dir> <runs>   (internal)
Defaults: testdata_local/dup/sf1 testdata_local/dup/sf8 3
          BENCH_SCALE_INCR_r14_sf1_sf8.json
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

BATCH_DOCS = 4000      # redelivered re-crawl slice (fixed across legs)
NEW_DOCS = 500         # genuinely new tail (fixed across legs)
NEW_SRC = "/root/testdata/sf0.1"  # arm-independent source for the tail
REDELIVER_BASE = 1_000_000_000
NEW_BASE = 2_000_000_000


def _batch(spark, sf_dir: str):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    redeliver = (
        docs.filter(F.col("doc_id") < BATCH_DOCS)
        .select((F.col("doc_id") + REDELIVER_BASE).alias("doc_id"), "text")
    )
    fresh = (
        spark.read.parquet(f"{NEW_SRC}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < NEW_DOCS)
        .select((F.col("doc_id") + NEW_BASE).alias("doc_id"), "text")
    )
    return docs, redeliver.unionByName(fresh).localCheckpoint()


def _touch(state: dict) -> int:
    """Consume every DataFrame the refreshed state returns — the full
    cost of the append-only fold, including lazy-union re-reads."""
    n = 0
    for v in state.values():
        if hasattr(v, "count") and not isinstance(v, (str, bytes)):
            n += v.count()
    return n


def leg(sf_dir: str, runs: int) -> None:
    import functools
    import statistics

    from build_datawarehouse_demo_spark.session import get_spark
    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_dedup_apply,
        clean_filter_dedup_state,
        training_data_neardup_apply,
        training_data_neardup_state,
    )
    from build_datawarehouse_demo_spark.registry_common import (
        _CLF_T,
        _GQ_MINW,
        _GQ_STOP,
        _QC_DIM,
        _TOPG,
        pageify,
    )

    # the registered incremental key's knobs — the default clean-stack
    # thresholds are tuned for web text and would filter the synthetic
    # fixture to near-nothing, measuring an empty pipeline
    knobs = dict(
        min_words=_GQ_MINW,
        min_stopword_hits=_GQ_STOP,
        max_top_gram_char_frac=_TOPG,
        clf_dim=_QC_DIM,
        clf_threshold=_CLF_T,
    )
    # keep-best arm (r18): SPARK_GRAFT_INCR_KEEP_BEST=1 measures the
    # same fold under the quality-rank policy — the apply additionally
    # recomputes winners for the batch-touched components (a slim
    # min_by over their stored keeps + the batch survivors), which
    # must stay batch-scale: the curve proves it
    keep_best = os.environ.get("SPARK_GRAFT_INCR_KEEP_BEST") == "1"
    suffix = "_keep_best" if keep_best else ""
    clean_knobs = dict(knobs, rank_col="clf_score") if keep_best else knobs
    nd_knobs = dict(rank_col="quality") if keep_best else {}
    spark = get_spark("bench_scale_incr")
    docs, batch = _batch(spark, sf_dir)
    n_stored = docs.count()
    result: dict = {"sf_dir": sf_dir, "n_stored": n_stored, "runs": runs}

    for name, build, apply_fn, adapt in (
        (f"clean_filter_dedup_apply{suffix}",
         functools.partial(clean_filter_dedup_state, **clean_knobs),
         functools.partial(clean_filter_dedup_apply, **clean_knobs),
         pageify),
        (f"training_data_neardup_apply{suffix}",
         functools.partial(training_data_neardup_state, **nd_knobs),
         functools.partial(training_data_neardup_apply, **nd_knobs),
         lambda d: d),
    ):
        stored = adapt(docs)
        t0 = time.time()
        state = build(stored, corpus_n=n_stored)
        _touch(state)
        build_s = round(time.time() - t0, 2)
        times = []
        for _ in range(runs):
            t0 = time.time()
            refreshed = apply_fn(adapt(batch), state)
            _touch(refreshed)
            times.append(round(time.time() - t0, 2))
        result[name] = {
            "build_s": build_s,
            "apply_runs_s": times,
            "apply_s": statistics.median(times),
            "bands": state["bands"],
            "rows": state["rows"],
            "n_survivors": state["survivors"].count(),
            "n_out": state["output"].count(),
        }
        print(f"LEG {name}: {json.dumps(result[name])}", flush=True)
    print("LEGRESULT " + json.dumps(result), flush=True)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "--leg":
        leg(sys.argv[2], int(sys.argv[3]))
        return
    small = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "testdata_local/dup/sf1")
    big = sys.argv[2] if len(sys.argv) > 2 else os.path.join(ROOT, "testdata_local/dup/sf8")
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    out_name = sys.argv[4] if len(sys.argv) > 4 else "BENCH_SCALE_INCR_r14_sf1_sf8.json"

    legs = {}
    for d in (small, big):
        print(f"bench_scale_incr leg: {d}", flush=True)
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--leg", d, str(runs)],
            capture_output=True,
            text=True,
            check=True,
        )
        last = [l for l in out.stdout.splitlines() if l.startswith("LEGRESULT ")][-1]
        legs[d] = json.loads(last[len("LEGRESULT "):])

    s, b = legs[small], legs[big]
    data_ratio = b["n_stored"] / s["n_stored"]
    queries = {}
    sfx = "_keep_best" if os.environ.get("SPARK_GRAFT_INCR_KEEP_BEST") == "1" else ""
    for key in (
        f"clean_filter_dedup_apply{sfx}",
        f"training_data_neardup_apply{sfx}",
    ):
        t_small, t_big = s[key]["apply_s"], b[key]["apply_s"]
        ratio = t_big / t_small
        queries[key] = {
            "t_small": t_small,
            "t_big": t_big,
            "ratio": round(ratio, 3),
            "exponent": round(math.log(max(ratio, 1e-9)) / math.log(data_ratio), 3),
            "build_small_s": s[key]["build_s"],
            "build_big_s": b[key]["build_s"],
        }
    result = {
        "small_sf": s["n_stored"],
        "big_sf": b["n_stored"],
        "data_ratio": round(data_ratio, 3),
        "runs": runs,
        "batch_docs": BATCH_DOCS + NEW_DOCS,
        "protocol": (
            "fixed re-crawl batch (first 4000 stored docs redelivered under "
            "fresh monotone ids + 500 fixed new docs) folded into a state "
            "built over the stored corpus; apply_s = median wall time of "
            "apply construction + full touch of every refreshed state frame"
        ),
        "legs": legs,
        "queries": queries,
    }
    out_path = os.path.join(ROOT, out_name)
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(f"wrote {out_path}", flush=True)


if __name__ == "__main__":
    main()
