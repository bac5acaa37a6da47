"""Targeted SemDeDup scale measurement (sf1 -> sf4 -> sf8).

COVERAGE.md's SemDeDup row claims the operator's balanced production
sizing — nlist = Theta(n^(2/3)), where train O(ppc*nlist^2), two-level
assign O(n*sqrt(nlist)) and prune O(n^2/nlist) all meet at O(n^(4/3))
— and promises a targeted measurement. The registered oracle entry
(`dedup_semantic_semdedup`) deliberately pins the sqrt(n) quantizer
the IVF family shares so its DuckDB restatement can reuse
ivf_trained_with_block verbatim; that sizing is correctness-scale
only (its prune term is O(n^1.5)), so the production law needs its
own bench at the production sizing. This tool runs the full chain
(sampled Lloyd train -> super-centroid grouping -> two-level assign
-> prune) at nlist = ceil(n^(2/3)) on the local sf1/sf4/sf8
embeddings fixtures, one JVM per leg, median of N runs, with the
bench.py calibration anchor recorded per leg.

points_per_centroid: the FAISS-convention default of 64 caps the
training sample at 64*nlist, which at nlist = n^(2/3) exceeds n for
every n <= 64^3 = 262,144 — i.e. at ALL local fixture sizes the
default silently degrades to full-corpus Lloyd and the measurement
would read the O(n*nlist) = n^(5/3) full-Lloyd law, not the designed
sampled-train law. The legs therefore pin ppc=4 (sample ~4*nlist =
4*n^(2/3); deterministic hash modulus 6/10/13 at the three legs, all
> 1, so the sampled regime is genuinely active) — the same regime a
100 TB corpus is ALWAYS in, since there n >> ppc*nlist.

Usage:
  python tools/bench_semdedup_scale.py            # orchestrate all legs
  python tools/bench_semdedup_scale.py --leg DIR  # one leg (internal)

Writes BENCH_SEMDEDUP_SCALE_r10.json at the repo root. Per the repo
bench discipline (ROUND_NOTES r8): run exclusively — no concurrent
Spark work.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "BENCH_SEMDEDUP_SCALE_r10.json")
LEGS = ["testdata_local/sf1", "testdata_local/sf4", "testdata_local/sf8"]
RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
PPC = 4  # see module docstring — keeps the sampled-train regime active
GPROBE = 2


def run_leg(sf_dir: str) -> dict:
    """One leg: production-sized SemDeDup chain, median of RUNS."""
    sys.path.insert(0, ROOT)
    from build_datawarehouse_demo_spark.session import get_spark
    from build_datawarehouse_demo_spark.operators.similarity import (
        ivf_assign_two_level,
        ivf_group_centroids,
        ivf_sample_modulus,
        ivf_train_sampled,
        semdedup_prune,
    )
    from build_datawarehouse_demo_spark.registry_dedup import _SD_EPS
    from pyspark.sql import functions as F
    import bench

    spark = get_spark("bench_semdedup_scale")
    # The local fixture is ONE parquet file (1-2 row groups -> 1-2 scan
    # tasks); a production corpus spans many splits. Spread + checkpoint
    # once per leg so the timed chain measures the operator, not the
    # fixture's file layout (spark-expr-perf-lessons: single-row-group
    # files scan as one task).
    from build_datawarehouse_demo_spark.operators.dedup import spread

    emb = spread(
        spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    ).localCheckpoint()
    n = emb.count()
    nlist = max(2, math.ceil(n ** (2.0 / 3.0)))
    ngroups = max(1, math.ceil(math.sqrt(nlist)))

    def chain(corpus, n_, nlist_, ngroups_):
        seeds = corpus.filter(F.col("vec_id") < nlist_).select(
            F.col("vec_id").alias("centroid_id"), "embedding"
        )
        cents = ivf_train_sampled(
            corpus, seeds, n=n_, nlist=nlist_, n_iter=2,
            points_per_centroid=PPC, round_to=6,
        )
        sup, groups = ivf_group_centroids(
            cents, n_groups=ngroups_, n_iter=1, round_to=6
        )
        assigned = ivf_assign_two_level(
            corpus, cents, sup, groups, gprobe=GPROBE
        )
        return semdedup_prune(assigned, cents, eps=_SD_EPS)

    # JIT/codegen warmup on a small slice (same plan shapes, ~2k rows)
    wn = min(n, 2000)
    chain(
        emb.filter(F.col("vec_id") < wn), wn,
        max(2, math.ceil(wn ** (2.0 / 3.0))),
        max(1, math.ceil(math.sqrt(wn ** (2.0 / 3.0)))),
    ).write.format("noop").mode("overwrite").save()

    cals, times = [], []
    for _ in range(RUNS):
        cals.append(bench._calibration(spark))
        t0 = time.time()
        chain(emb, n, nlist, ngroups).write.format("noop").mode("overwrite").save()
        times.append(round(time.time() - t0, 3))
    return {
        "sf_dir": sf_dir,
        "n": n,
        "nlist": nlist,
        "ngroups": ngroups,
        "ppc": PPC,
        "sample_modulus": ivf_sample_modulus(n, nlist, PPC),
        "runs": times,
        "median": round(statistics.median(times), 3),
        "calibration": round(statistics.median(cals), 3),
    }


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--leg":
        print(json.dumps(run_leg(sys.argv[2])), flush=True)
        return

    legs = []
    for leg in LEGS:
        print(f"bench_semdedup_scale: {leg} (runs={RUNS})", flush=True)
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--leg",
             os.path.join(ROOT, leg)],
            capture_output=True, text=True, check=True, cwd=ROOT,
        )
        rec = json.loads(
            [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
        )
        print(json.dumps(rec), flush=True)
        legs.append(rec)

    def expo(a: dict, b: dict, corrected: bool) -> float:
        ta, tb = a["median"], b["median"]
        if corrected:
            ta, tb = ta / a["calibration"], tb / b["calibration"]
        return round(math.log(tb / ta) / math.log(b["n"] / a["n"]), 3)

    result = {
        "lane": "dedup_semantic_semdedup (production sizing nlist=ceil(n^(2/3)))",
        "designed_cap": 1.4,  # n^(4/3) law + margin for the log-factor-free fit
        "runs": RUNS,
        "legs": legs,
        "exponents_raw": {
            "sf1_sf4": expo(legs[0], legs[1], False),
            "sf4_sf8": expo(legs[1], legs[2], False),
            "sf1_sf8": expo(legs[0], legs[2], False),
        },
        "exponents_cal_corrected": {
            "sf1_sf4": expo(legs[0], legs[1], True),
            "sf4_sf8": expo(legs[1], legs[2], True),
            "sf1_sf8": expo(legs[0], legs[2], True),
        },
    }
    with open(OUT, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
