"""Generate PLANS.md: formatted physical plans for representative
queries with the scale-relevant facts extracted (pushed filters, read
schemas, join strategies, exchanges, codegen spans).

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

AUDITED = {
    "sql_q6_forecast_revenue": "pure filter+agg — every predicate must reach the parquet scan",
    "sql_q5_local_supplier_volume": "five-way join — dims broadcast, no sort-merge at this SF",
    "flagship_priority_revenue": "dim build + broadcast join + hash agg; the one window is on the 5-row dim",
    "dedup_minhash_lsh": "narrow shingle arrays → shingle-set-digest pre-collapse to min-id reps (r13: one 16-byte-digest window exchange, checkpointed — the hot-duplicate-group defense) → zero-shuffle array_min signatures per rep → band self-join (ids only) → array_intersect verify on rep candidates → ONE member re-expansion pass (r14: within-group pairs ride the same two id joins as (rep, rep) self-pairs at jaccard 1.0)",
    "sim_cosine_topk": "corpus stays put; probe matrix ships via broadcast variable into ONE MapInPandas scoring pass (r19, exact fold order) that emits only per-partition per-probe top-k — the window then ranks k·n_partitions rows per probe instead of sorting each probe's entire scored corpus in one reducer",
    "join_asof": "union + per-key window — exactly one Exchange on the key",
    "streaming_tumbling_window": "tumbling agg: partial+final hash aggregate around one Exchange",
    "scd2_apply_history": "dimension close+append: anti-join/union shape, no history rewrite",
    "sql_q10_returned_items": "4-way join + agg + deterministic top-20",
    "dedup_embedding_cosine": "banded RP-LSH (r12 shape + r13 pre-collapse): raw-vector-digest grouping to min-id reps first (hot-duplicate-group defense), then one staged projection pass over reps, band self equi-join on (band, sig) riding int8-quantized unit vectors, conservative integer-dot prefilter inline, exact-dot verify on the DEDUPED SHELL (+ one self-pair per duplicate group), member re-expansion joins last — must contain NO cross/nested-loop join",
    "sql_q2_min_cost_supplier": "correlated scalar-min subquery — must decorrelate to aggregate + join (no per-row re-execution); dims broadcast on both the outer and the subquery side",
    "join_bucketed_shuffle_free": "bucketed fact-fact sort-merge join — ZERO Exchange on either side; the shuffle was paid at write time (join_bucketed_build)",
    "pipeline_prepare_training_data": "composed corpus prep — feature stages fuse into ONE scan stage; the only wide ops are the digest-keyed dedup window exchange (split filter is narrow)",
    "join_partitioned_dpp": "runtime partition pruning — the fact scan must carry a dynamicpruning# subquery on event_date (broadcast reuse), not a full scan + post-filter",
    "text_chunk_documents": "sliding-window chunking — generator over the scan, zero Exchange anywhere",
    "graph_pagerank": "5 power iterations as join+agg loop — edges materialized once (localCheckpoint), each iteration broadcasts the small rank table and shuffles only the per-dst contribution sum",
    "join_bloom_runtime_filter": "shuffle join with INJECTED runtime filter — lineitem side must carry might_contain(bloom) BEFORE its Exchange, built from the filtered orders side",
    "join_skew_aqe": "hot-key fact join — final adaptive plan must show SortMergeJoin(skew=true): AQE split the hot reduce partition from real shuffle sizes",
    "sink_zorder_scan": "Z-order layout readback — the 2-D box filter must reach the parquet scan as PushedFilters on both columns (file skipping happens in the reader via min/max stats)",
    "udf_arrow_map": "mapInArrow norm kernel — one ArrowEvalPython-free map stage (PythonMapInArrow) directly over the scan, no shuffle",
    "join_levenshtein_band": "deletion-neighborhood edit-distance join — distinct values and the self-join's variant table each materialized ONCE (r19: the scan+distinct subtree formerly re-executed 10x across the p99 probe, deletion-round union branches and both self-join sides), variant equi-join on near-singleton hash buckets, levenshtein verify on candidates; NO cross/nested-loop join",
    "graph_pagerank_bucketed": "beyond-broadcast pagerank — per-iteration SortMergeJoin whose edge (share) side is the bucketed scan with ZERO Exchange; only the |nodes|-row rank side shuffles",
    "merge_partitioned_parquet": "MERGE-as-rewrite — the target read must carry the partition filter (touched partitions only) into the scan; the apply is one window pass on the feed keys",
    "text_decontaminate": "n-gram decontamination — train grams stream once; benchmark gram set deduped and BROADCAST into the overlap join; count groups on doc_id",
    "agg_rolling_time_window": "7-day rolling window — exactly one Exchange (user_id); RANGE frame over epoch micros inside a single Window node",
    "ml_feature_hashing": "HashingTF shape — explode + md5 bucket + partial/final hash agg around one Exchange on (doc_id, bucket)",
    "join_fuzzy_jaccard_prefix": "prefix-filtered set-similarity join — candidates from an EQUI-join on prefix tokens (freq table broadcast); must contain NO cartesian/nested-loop join anywhere",
    "join_asof_forward": "forward as-of — same union+carry window shape as backward: ONE Exchange on the key, first() down an unbounded-following frame",
    "sim_ann_rp_lsh_auto": "auto-sized ANN — ONE staged projection pass per side, bucket equi-join on the signature (probe side broadcast after its ×(planes+1) multiprobe fanout), exact-cosine rerank; NO cross/nested-loop join",
    "sim_ivf_trained": "trained IVF, linearized r8 + amortized quantizer r12 + Arrow assign kernels r19 — centroids come from the persisted index's single-slot memo (supers/groups re-derived deterministically from the stored table), so the lane pays only the full-corpus two-level assignment + search per run; BOTH quantizer levels now run inside ONE MapInPandas kernel per pass (centroid matrix shipped as a broadcast variable, scores in the JVM fold's exact IEEE order — the former 12 BroadcastNestedLoopJoin cross-score stages and their row_number exchanges are GONE: 25 Exchange → 8 at sf0.1, plans/r19/); the search join on the list id is an equi-join with the tiny probe side hinted broadcast",
    "sim_ann_rp_lsh_auto_directed": "query-directed multiprobe — one staged projection pass per side; probe side fans out a CONSTANT 2^T subset-variants explode (no n_planes growth), bucket equi-join, exact-cosine rerank; NO dedup exchange (variants are distinct signatures) and NO cross/nested-loop join",
    "dedup_substring_spans": "substring-span dedup — tokenize+window explode (token-stream volume), partial/final count-distinct agg on 16-byte digests, equi-join of digest counts back to window rows; documents never shuffle",
    "text_remove_duplicate_spans": "span removal (r16 shape) — gram digests + owner agg on ONE gram-keyed exchange, removed-position classification as a single (doc,pos) min-over-foreign-flags aggregate, per-doc array rebuild (array_except + element_at); documents never leave their rows — only removed positions shuffle",
    "dedup_simhash_collapse": "radius-0 simhash dedup — signature partial-aggs + ONE exchange on the signature for the min/count window; linear however clustered the corpus",
    "sample_temperature_mix": "temperature mixing (fill rebuilt r19) — distributed per-source rank via _per_source_running_fill: slim (id, source, key) projection range-partitioned + checkpointed, bounded per-(partition, source) totals collect doubling as the quota counts, per-(partition, source) cumsum window + broadcast offset join (NO per-source single-task sort), quotas broadcast, payloads rejoin by (id, source)",
    "graph_triangle_count": "degree-ordered triangles — hash aggs + equi-joins over (int,int) pairs only, edge list + oriented list checkpointed once (they are read 4x/2x; uncheckpointed the basket-pair derivation re-executed per reference: 166 Exchanges); never nested-loop",
    "join_interval_overlap": "gridded overlap join — both sides explode to grid cells, ONE equi-join on the cell id, residual overlap + overlap-start-cell claim as filters; the two BroadcastNestedLoopJoin lanes are the r8 long-interval SIDE-CHANNEL (>max_cells-span outliers broadcast against the other side — BY DESIGN, empty at this SF), never the row product",
    "streaming_session_window": "session windows — partial/final SessionWindow aggregation around one Exchange on (user_id); no join, no global window",
    "pipeline_star_schema_build": "full warehouse build — one composite DAG; dims broadcast into every date resolution, surrogate windows only above deduped dim-scale inputs",
    "pipeline_training_data_neardup": "composed near-dup corpus prep (r9; span stage restructured r16) — the final DAG reads the localCheckpoint'ed survivor/pair/representative tables (features, components' node+edge derivation and the rep join each paid ONCE); the span stage reuses the checkpointed rep_grams-shaped gram frame, classifies removed positions in one (doc,pos) aggregate and rebuilds docs with array arithmetic — the former posexploded token-stream shuffle and sort-collect are gone (normalized 5.56 -> ~4.2-4.6 local)",
    "text_token_count_bpe": "BPE subword counting — a single codegen'd projection: 48 chained literal regexp_replace passes over the per-row symbol encoding; zero Exchange anywhere",
    "sim_ivf_index_append": "IVF append — build on the old corpus (sampled training + two-level assignment), then the batch assignment broadcasts the STORED centroids/supers (tiny), anti-joins stored ids, and appends through the bucketed writer; the only corpus-wide exchange is the bucketed write itself",
    "streaming_neardup_collapse_batch": "narrow simhash collapse — per-row signature folds in ONE projection (no explode), then a single exchange on the signature for the min/count window",
    "sample_temperature_mix_t3": "general-T mixing (fill rebuilt r19) — quotas are driver-side bigint literals broadcast into the rank filter; the rank comes from the range-partitioned distributed fill (window keyed on (partition, source), never a single task per source)",
    "pipeline_training_data_neardup_incremental": "incremental corpus refresh (r10; r15: TWO folds with a state COMPACTION between) — ONLY each batch takes the feature scan; exact stage anti-joins 16-byte digests against stored survivors; new band keys equi-join the STORED band-key table (old signatures reused, never recomputed); components contract stored+new pairs; span refresh recomputes gram stats only for digests touched by new or dropped reps and rebuilds only affected documents — untouched output rows are reused verbatim; after the mid-sequence compaction the stored side is BUCKETED TABLE SCANS (zero unions, zero checkpoint leaves), the fold-2 plan shape a year-old production state would have",
    "pipeline_clean_filter_dedup_migrated": "banding migration (r15) — build at n/5, fold frozen, MIGRATE (the build body rerun over the stored survivors at the new auto params: digest grouping, band keys, pairs, components, output — the filter front never re-runs), fold at the migrated banding",
    "dedup_semantic_semdedup": "SemDeDup prune — trained-quantizer chain (Arrow assign kernels r19, the sim_ivf_trained pattern: MapInPandas scoring, no BNLJ cross-score stages), then ONE rank window per cluster and a cluster-key self equi-join for the pair stage (O(n²/nlist) comparisons — the balanced production sizing makes it n^(4/3), measured in BENCH_SEMDEDUP_SCALE_r10.json); never a corpus nested-loop",
    "dedup_semdedup_incremental": "incremental SemDeDup — frozen quantizer broadcast into BOTH subset assignments; the new batch takes the rank window; two cluster-key equi-joins (new×stored, new×earlier-new) bound pair volume by |new|·cluster_size; stored verdicts never recomputed",
    "sample_token_budget_mix_t1": "token-budget mixing (fill rebuilt r19) — per-source token totals fall out of the fill's bounded per-(partition, source) collect, quotas broadcast back, running sum via the range-partitioned distributed fill (window keyed on (partition, source) — NO per-source single-task sort); the greedy-prefix filter is a narrow comparison; payloads rejoin by (id, source)",
    "shard_token_balanced": "token-balanced sharding — range repartition on the hash key (the ONE corpus exchange), narrow projection checkpointed once, per-partition totals collected (one row per partition), cumsum window + broadcast offset join; NO global single-task window",
    "pipeline_rag_index_search": "RAG index pipeline — chunking + dense hash-embedding fuse into ONE scan-side projection (posexplode + HOFs, no UDF); quantizer training, assignment and probe routing run in the r19 Arrow assign kernels (MapInPandas, exact fold order — 21 Exchange → 4 and 12 BNLJ → 0 at sf0.1, plans/r19/); search joins probe routes to inverted lists on the centroid id (equi-join, probe side hinted broadcast), top-k window on scored rows",
    "text_quality_classifier": "linear quality classifier — a single codegen'd projection (hashed bucket counts via HOFs, fold dot, sigmoid); zero Exchange anywhere",
    "profile_source_overlap": "cross-source overlap — gram explode + ONE distinct exchange on (source, gram); self equi-join on the gram with fanout bounded by the source dimension; bounded-key aggs",
    "pipeline_rag_index_append": "incremental RAG refresh — the OLD corpus is indexed once through the bucketed writer; the NEW batch's chunk+embed is its own single scan, assignment broadcasts the STORED centroids (nlist rows), the anti-join touches only the stored id column, and search reads the bucketed lists back (no corpus rescan, no retraining)",
    "text_gopher_rules": "Gopher rule battery — ONE codegen'd projection over the documents scan (staged token array + line split, filter/size HOFs, clamped integer-ratio divisions); zero Exchange anywhere",
    "text_gopher_repetition": "Gopher repetition battery (r11) — ONE codegen'd projection over the documents scan (sorted-gram run-length fold for the per-document mode — no explode, no groupBy); the only Exchange is the reader's row-group-aware rebalance; zero BatchEvalPython",
    "pipeline_clean_filter_dedup": "composed modern cleaning stack (r12) — pageify + the four filter batteries (C4, Gopher quality, Gopher repetition, classifier) fuse into scan-side codegen stages with barrier-pinned filters (no joins between stages); the first semantic exchange is the MinHash banding aggregation; components contract the PAIR graph; the split is a narrow hash projection",
    "text_gopher_dup_ngrams": "Gopher dup n-gram fractions n=5..10 (r12) — ONE scan-side projection (six sorted-gram run-length folds, no explode/groupBy; HOF-heavy Projects sit outside WholeStageCodegen by design — higher-order functions are CodegenFallback); the only Exchange is the reader rebalance",
    "streaming_rag_index_append": "streaming RAG maintenance (r12) — the audited plan is the POST-STREAM read of the bucketed lists table (the stream itself ran foreachBatch appends); must be a bare bucketed scan + projection, no corpus rescan",
    "pipeline_clean_filter_dedup_keep_best": "incremental KEEP-BEST cleaning stack (r18) — same stage chain as pipeline_clean_filter_dedup_incremental (batch-only filter scan, frozen-banding rep-level candidate joins, star contraction over stored+new pairs); the keep step is ONE map-side-combining min_by over slim (component, rank, id) rows of the TOUCHED components' stored keeps + the batch survivors (batch-scale semi-joins, AQE-broadcast), untouched output rows reused via an anti-join — documents never shuffle for the policy",
    "sample_token_budget_mix_weighted": "weighted token-budget mixing (r18; fill rebuilt r19) — exact-digest class sizes from ONE md5-keyed agg joined back (the soft-weight attach), micro-token quotas broadcast, ES-ordered running sum via the range-partitioned distributed fill over a slim projection (window keyed on (partition, source), decimal-exact totals with a 2^63 guard); all quota/fill arithmetic integer micro-units; payloads rejoin by (id, source)",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    import __spark_entry__ as em
    from build_datawarehouse_demo_spark.session import get_spark

    spark = get_spark("plans")
    qs = em.queries()
    out = io.StringIO()
    out.write(
        "# PLANS — physical-plan audit at sf0.1\n\n"
        "Generated by `tools/dump_plans.py`. For each audited query: the\n"
        "scale-relevant plan facts, then the formatted plan. Things to\n"
        "check per the 100 TB posture: predicates/columns pushed to the\n"
        "scan, small sides broadcast, exchanges only where a shuffle is\n"
        "semantically required, wide WholeStageCodegen spans.\n"
    )
    for name, why in AUDITED.items():
        df = qs[name](spark, sf_dir)
        # execute THE DATAFRAME'S OWN QueryExecution first so AQE's
        # FINAL plan (runtime join selection, coalesced exchanges,
        # codegen ids) is what we audit. A noop write — the r9 shape —
        # executes a SEPARATE QueryExecution: df's own plan stays
        # isFinalPlan=false with zero *(N) markers, which is exactly
        # how the codegen counter under-reported (VERDICT r9 item 7).
        # collect() runs df._jdf itself; audited outputs are at most
        # ~10^5 rows at sf0.1.
        df.collect()
        jdf = df._jdf.queryExecution()
        plan = jdf.executedPlan().toString()
        formatted = jdf.explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)", formatted)
        # count unique Exchange NODES (tree shows 'Exchange (7)', the
        # details section repeats '(7) Exchange' — a bare word count
        # double-reports every shuffle)
        exchanges = len(set(re.findall(r"Exchange(?:\w*)? \((\d+)\)", formatted)))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", formatted)
        # codegen spans from the EXECUTED plan's *(N) markers — the
        # formatted dump renders the pre-AQE tree, whose codegen ids
        # vanish once AQE re-plans, so it under-reported spans as 0 on
        # fully-codegen'd projections (VERDICT r9 item 7: an audit that
        # under-reports codegen can't catch a codegen regression, e.g.
        # a janino width rejection silently de-optimizing a literal
        # chain). The formatted count is kept as a floor for plans
        # where AQE is absent and the executed string elides markers.
        wscg = max(
            len(set(re.findall(r"\*\((\d+)\)", plan))),
            len(set(re.findall(r"codegen id : (\d+)", formatted))),
        )
        out.write(f"\n## {name}\n\n*{why}*\n\n")
        out.write(f"- joins: {joins or 'none'}\n")
        out.write(f"- exchanges: {exchanges}\n")
        out.write(f"- WholeStageCodegen spans: {wscg}\n")
        for p in pushed[:4]:
            out.write(f"- PushedFilters: `[{p[:160]}]`\n")
        out.write("\n```\n")
        out.write(formatted[:6000])
        out.write("\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(out.getvalue())
    print("PLANS.md written")


if __name__ == "__main__":
    main()
