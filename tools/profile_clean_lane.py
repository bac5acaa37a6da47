"""Stage-by-stage wall-clock profile of the modern cleaning stack
(pipeline_clean_filter_dedup: plans/training_data.prepare_clean_filter_dedup
over the registry's pageified fixture) at one scale factor — the
measure-first discipline (r17, VERDICT r16 item 6: the lane sits at
~3.2 normalized in the driver bench; before restructuring anything,
find out whether a hot stage exists or the cost is stage-count
constants, as the rag lane's profile showed in r10).

Each boundary is forced with a count() or localCheckpoint so the
timing brackets exactly one subtree, mirroring how the composed plan
actually executes (the pipeline itself checkpoints survivors and
pairs).

Usage: python tools/profile_clean_lane.py <sf_dir> [repeats]
"""

from __future__ import annotations

import os
import sys
import time

# robust to any invocation cwd (r17 ADVICE)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    sf_dir = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    from pyspark.sql import functions as F

    from build_datawarehouse_demo_spark.operators.dedup import (
        connected_components_star,
        lsh_candidate_pairs,
        minhash_auto_params,
        minhash_signatures_from_arrays,
        shingle_arrays,
        shingle_digest_groups,
    )
    from build_datawarehouse_demo_spark.operators.sampling import (
        train_val_test_split,
    )
    from build_datawarehouse_demo_spark.plans.training_data import (
        clean_filter_survivors,
    )
    from build_datawarehouse_demo_spark.registry_common import (
        _CLF_T,
        _GQ_MINW,
        _GQ_STOP,
        _QC_DIM,
        _TOPG,
        pageify,
    )
    from build_datawarehouse_demo_spark.session import get_spark
    from build_datawarehouse_demo_spark.sources.readers import read_parquet

    spark = get_spark()
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )

    for rep in range(reps):
        pg = pageify(docs)
        t0 = time.time()
        corpus_n = pg.count()
        t1 = time.time()
        print(f"[{rep}] corpus count:      {t1 - t0:6.2f}s  n={corpus_n}", flush=True)

        bands, rows_pb = minhash_auto_params(corpus_n)
        surv = clean_filter_survivors(
            pg,
            min_words=_GQ_MINW,
            min_stopword_hits=_GQ_STOP,
            max_top_gram_char_frac=_TOPG,
            clf_dim=_QC_DIM,
            clf_threshold=_CLF_T,
        ).localCheckpoint()
        n_surv = surv.count()
        t2 = time.time()
        print(f"[{rep}] filter front+ckpt: {t2 - t1:6.2f}s  n_surv={n_surv}", flush=True)

        sh = shingle_arrays(surv, "doc_id", "cleaned", 3)
        members, grp_reps = shingle_digest_groups(sh, "doc_id")
        n_groups = grp_reps.count()
        t3 = time.time()
        print(f"[{rep}] digest pre-collapse: {t3 - t2:4.2f}s  n_groups={n_groups}", flush=True)

        reps_df = grp_reps.select("doc_id", "shingles")
        sigs = minhash_signatures_from_arrays(reps_df, bands * rows_pb, "doc_id")
        cand = lsh_candidate_pairs(sigs, bands * rows_pb, bands, "doc_id", collapse=False)
        n_cand = cand.count()
        t4 = time.time()
        print(f"[{rep}] sign+band+cand:    {t4 - t3:6.2f}s  n_cand={n_cand}", flush=True)

        # full pair set exactly as minhash_dedup_pairs builds it
        from build_datawarehouse_demo_spark.operators.dedup import (
            minhash_dedup_pairs,
        )

        pairs = minhash_dedup_pairs(
            surv,
            id_col="doc_id",
            text_col="cleaned",
            k=3,
            num_hashes=bands * rows_pb,
            bands=bands,
            threshold=0.8,
        ).localCheckpoint()
        n_pairs = pairs.count()
        t5 = time.time()
        print(f"[{rep}] verify+expand+ckpt: {t5 - t4:5.2f}s  n_pairs={n_pairs}", flush=True)

        comp = connected_components_star(pairs)
        reps2 = (
            surv.join(comp.withColumnRenamed("node", "doc_id"), "doc_id", "left")
            .withColumn("component_id", F.coalesce(F.col("component"), F.col("doc_id")))
            .filter(F.col("component_id") == F.col("doc_id"))
            .select("doc_id", "n_ws_tokens", "clf_score", "component_id")
        )
        out = train_val_test_split(reps2, "doc_id").select(
            "doc_id", "n_ws_tokens", "clf_score", "component_id", "split"
        )
        out.write.format("noop").mode("overwrite").save()
        t6 = time.time()
        print(f"[{rep}] components+split:  {t6 - t5:6.2f}s  TOTAL {t6 - t0:6.2f}s", flush=True)


if __name__ == "__main__":
    main()
