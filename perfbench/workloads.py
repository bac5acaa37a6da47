"""The benchmark's workloads, driven through the package's public
entry points.

Each workload has
- ``setup(dest, tr)``: generate the seeded inputs and write them where
  the program reads them (timed as ``setup_s``);
- ``run_pass(tag, tr)``: one pass, returning the latency of every
  user-facing operation in it and its outputs;
- ``check(passes)``: the output check, run outside the timed region,
  returning ``(problems, failed_ops)``. The first pass is checked in
  full; later passes of a traced run must match it.

``tr`` is a ``spans.NullTracer`` on measured passes and a
``spans.Tracer`` on the traced pass and the last set-up of a traced
run.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

from build_datawarehouse_demo_spark.plans.rag_index import rag_index_search
from build_datawarehouse_demo_spark.plans.star_schema import build_warehouse
from build_datawarehouse_demo_spark.plans.training_data import prepare_training_data_neardup
from build_datawarehouse_demo_spark.sources.readers import read_csv, read_json_lines, read_parquet
from build_datawarehouse_demo_spark.sources.writers import save_table

from perfbench import checks, inputs

#: TPC-H scale of the warehouse workloads: lineitem ~60k rows. Pass
#: time here is dominated by per-job scheduling, not by data volume.
WAREHOUSE_SF = 0.01
#: corpus size. Pass time is set by the job count, not by documents
#: (1500 and 2000 documents both took 23.5 s a pass); the output
#: check's DuckDB chain grows with it.
CORPUS_DOCS = 2000
#: RAG search shape: rag_index_search's defaults (5 probe documents,
#: top 5 hits each)
RAG_PROBES, RAG_K = 5, 5

STAR_TABLES = (
    "dim_datetime dim_hour dim_date dim_business dim_category fact_business_categories "
    "dim_attribute fact_business_attributes fact_business_hours dim_user dim_elite "
    "fact_user_elite dim_friend fact_user_friend fact_reviews fact_checkins fact_tips "
    "fact_covid_features dim_highlights fact_business_highlights dim_temperature "
    "dim_precipitation"
).split()
CORPUS_TABLES = ("documents", "training_data", "rag_hits")
#: every table a workload writes through writers.save_table
SAVED_TABLES = (*STAR_TABLES, *inputs.GEN_TABLES, *CORPUS_TABLES)

#: raw-zone datasets written as CSV (the rest are newline-delimited
#: JSON), per FIXTURES.md
RAW_CSV = ("temperature", "precipitation")


@dataclass
class PassOut:
    latencies: list[float]
    out_dir: str | None = None
    results: dict = field(default_factory=dict)


def _raw_records(raw_dir: str) -> int:
    """Records in a raw zone: one per JSON line, one per CSV line after
    each part file's header."""
    n = 0
    for root, _dirs, files in os.walk(raw_dir):
        for f in files:
            if f.startswith("part-"):
                with open(os.path.join(root, f), "rb") as fh:
                    lines = sum(1 for _ in fh)
                n += lines - 1 if f.endswith(".csv") else lines
    return n


def _timed_save(tr, df, name: str, path: str) -> float:
    t0 = time.perf_counter()
    with tr.span("writers.save_table", table=name, path=path):
        save_table(df, name, path=path)
    return time.perf_counter() - t0


class Workload:
    name = ""
    #: (module, attr, span name) patched on the traced pass
    trace_targets: tuple = ()

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.rows = 0
        self.properties: dict = {}

    def fresh(self, *parts) -> str:
        """An empty path under the run's work directory."""
        p = os.path.join(self.work, *parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def stored_bytes(self, out: PassOut) -> int:
        return checks.parquet_stats(out.out_dir)[1]


class WarehouseBuild(Workload):
    """Raw zone (NDJSON + CSV) -> star schema -> parquet tables."""

    name = "warehouse_build"
    trace_targets = (
        ("plans.star_schema", "surrogate_key_rownum", "keys.surrogate_key_rownum"),
        ("operators.keys", "surrogate_key_scalable", "keys.surrogate_key_scalable"),
    )

    def setup(self, dest: str, tr) -> None:
        from build_datawarehouse_demo_spark.registry_round7 import (
            _yelp_fixture_from_driver_tables,
        )

        tpch = self.fresh(dest, "tpch")
        inputs.write_tpch(WAREHOUSE_SF, self.seed, tpch)
        raw = _yelp_fixture_from_driver_tables(self.spark, tpch)
        self.raw_dir = self.fresh(dest, "raw")
        self.tpch_dir = tpch
        self.schemas = {}
        for name, df in raw.items():
            self.schemas[name] = df.schema
            if name in RAW_CSV:
                df.write.option("header", "true").csv(f"{self.raw_dir}/{name}.csv")
            else:
                df.write.json(f"{self.raw_dir}/{name}.json")
        self.rows = _raw_records(self.raw_dir)
        self.properties = {"tpch_sf": WAREHOUSE_SF, "raw_records": self.rows}

    def _read_raw(self) -> dict:
        raw = {}
        for name, schema in self.schemas.items():
            if name in RAW_CSV:
                raw[name] = read_csv(self.spark, f"{self.raw_dir}/{name}.csv", schema)
            else:
                raw[name] = read_json_lines(self.spark, f"{self.raw_dir}/{name}.json", schema)
        return raw

    def run_pass(self, tag, tr) -> PassOut:
        out = self.fresh(f"build-{tag}")
        wh = tr.call("star_schema.build_warehouse", build_warehouse, self.spark, self._read_raw())
        lat = [_timed_save(tr, df, name, f"{out}/{name}") for name, df in wh.items()]
        return PassOut(lat, out)

    def _table_rows(self, out: PassOut) -> dict:
        import pyarrow.parquet as pq

        return {t: pq.read_table(f"{out.out_dir}/{t}").num_rows for t in STAR_TABLES}

    def check(self, passes: list[PassOut]):
        from build_datawarehouse_demo_spark.registry_round7 import (
            _STAR_ORACLE,
            _summarize_warehouse,
        )

        first = passes[0]
        written = sorted(os.listdir(first.out_dir))
        if written != sorted(STAR_TABLES):
            return [f"star build wrote {written}"], len(STAR_TABLES)
        wh = {t: self.spark.read.parquet(f"{first.out_dir}/{t}") for t in STAR_TABLES}
        got = _summarize_warehouse(wh).toPandas()
        con = checks.duckdb_over({t: f"{self.tpch_dir}/{t}.parquet" for t in inputs.TPCH_TABLES})
        want = con.execute(_STAR_ORACLE).fetchdf()
        problems = checks.compare("star summary", got, want)
        ref = self._table_rows(first)
        for p in passes[1:]:
            if self._table_rows(p) != ref:
                problems.append(f"star build {p.out_dir}: row counts differ from the checked pass")
        return problems, (len(STAR_TABLES) if problems else 0)


class WarehouseQuery(Workload):
    """The TPC-H-shaped SQL registry keys plus the flagship query over
    serving tables written by the program's own writer."""

    name = "warehouse_query"
    trace_targets = (
        ("sources.readers", "register_star_views", "readers.register_star_views"),
    )

    def __init__(self, spark, seed, work):
        super().__init__(spark, seed, work)
        import __spark_entry__ as entry

        self.keys = self.query_keys()
        self.queries, self.oracles = entry.queries(), entry.oracle_sql()

    @staticmethod
    def query_keys() -> list[str]:
        """The TPC-H-shaped ``sql_q*`` registry keys and the flagship."""
        import __spark_entry__ as entry

        keys = sorted(k for k in entry.queries() if k.startswith("sql_q"))
        return [*keys, "flagship_priority_revenue"]

    def setup(self, dest: str, tr) -> None:
        staging = self.fresh(dest, "staging")
        counts = inputs.write_tpch(WAREHOUSE_SF, self.seed, staging)
        self.serving = self.fresh(dest, "serving")
        for t in inputs.GEN_TABLES:
            df = self.spark.read.parquet(f"{staging}/{t}.parquet")
            _timed_save(tr, df, t, f"{self.serving}/{t}.parquet")
        self.rows = sum(counts.values())
        self.properties = {"tpch_sf": WAREHOUSE_SF, **{f"rows.{t}": n for t, n in counts.items()}}

    def run_pass(self, tag, tr) -> PassOut:
        lat, results = [], {}
        for key in self.keys:
            t0 = time.perf_counter()
            with tr.span("query.build"):
                df = self.queries[key](self.spark, self.serving)
            with tr.span(f"query.{key}"):
                results[key] = df.toPandas()
            lat.append(time.perf_counter() - t0)
        return PassOut(lat, results=results)

    def stored_bytes(self, out: PassOut) -> int:
        return checks.parquet_stats(self.serving)[1]

    def check(self, passes: list[PassOut]):
        con = checks.duckdb_over({t: f"{self.serving}/{t}.parquet" for t in inputs.GEN_TABLES})
        problems = []
        for key in self.keys:
            want = con.execute(self.oracles[key]).fetchdf()
            for p in passes:
                problems += checks.compare(key, p.results[key], want)
        return problems, len(problems)


class CorpusNeardupRag(Workload):
    """Near-dup training-data prep and RAG index search over one
    generated corpus."""

    name = "corpus_neardup_rag"
    trace_targets = (
        ("plans.training_data", "_featured_survivors", "training_data._featured_survivors"),
        ("operators.dedup", "shingle_arrays", "dedup.shingle_arrays"),
        ("operators.dedup", "minhash_signatures_from_arrays", "dedup.minhash_signatures_from_arrays"),
        ("operators.dedup", "lsh_candidate_pairs", "dedup.lsh_candidate_pairs"),
        ("operators.dedup", "minhash_dedup_pairs", "dedup.minhash_dedup_pairs"),
        ("operators.dedup", "connected_components_star", "dedup.connected_components_star"),
        ("operators.dedup", "remove_duplicate_spans", "dedup.remove_duplicate_spans"),
        ("operators.sampling", "train_val_test_split", "sampling.train_val_test_split"),
        ("plans.rag_index", "hash_embed_chunks", "rag_index.hash_embed_chunks"),
        ("operators.similarity", "ivf_train_sampled", "similarity.ivf_train_sampled"),
        ("operators.similarity", "ivf_group_centroids", "similarity.ivf_group_centroids"),
        ("operators.similarity", "ivf_assign_two_level", "similarity.ivf_assign_two_level"),
        ("operators.similarity", "ivf_topk_assigned", "similarity.ivf_topk_assigned"),
    )

    def setup(self, dest: str, tr) -> None:
        staging = self.fresh(dest, "staging.parquet")
        self.properties = inputs.write_corpus(CORPUS_DOCS, self.seed, staging)
        self.docs_dir = self.fresh(dest, "documents.parquet")
        _timed_save(tr, self.spark.read.parquet(staging), "documents", self.docs_dir)
        self.rows = CORPUS_DOCS

    def run_pass(self, tag, tr) -> PassOut:
        out = self.fresh(f"corpus-{tag}")
        docs = read_parquet(self.spark, self.docs_dir)
        t0 = time.perf_counter()
        prepared = prepare_training_data_neardup(docs)
        _timed_save(tr, prepared, "training_data", f"{out}/training_data")
        t1 = time.perf_counter()
        hits = rag_index_search(docs, n_probe_docs=RAG_PROBES, k=RAG_K)
        _timed_save(tr, hits, "rag_hits", f"{out}/rag_hits")
        return PassOut([t1 - t0, time.perf_counter() - t1], out)

    def _outputs(self, out: PassOut) -> tuple:
        return (
            checks.read_parquet_dir(f"{out.out_dir}/training_data"),
            checks.read_parquet_dir(f"{out.out_dir}/rag_hits"),
        )

    def check(self, passes: list[PassOut]):
        from build_datawarehouse_demo_spark.operators.dedup import minhash_auto_params
        from build_datawarehouse_demo_spark.registry_round9 import neardup_full_chain_sql

        prepared, hits = self._outputs(passes[0])
        con = checks.duckdb_over({"documents": self.docs_dir})
        want = con.execute(neardup_full_chain_sql(*minhash_auto_params(CORPUS_DOCS))).fetchdf()
        problems = checks.compare("training data", prepared, want)
        failed = 1 if problems else 0
        docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
        vecs = checks.chunk_vectors(docs)
        rag_problems = checks.check_rag_hits(hits, vecs, RAG_PROBES, RAG_K)
        failed += 1 if rag_problems else 0
        problems += rag_problems
        self.properties.update(
            chunks=len(vecs),
            output_share=len(prepared) / CORPUS_DOCS,
        )
        ref = tuple(checks.fingerprint(x) for x in (prepared, hits))
        for p in passes[1:]:
            if tuple(checks.fingerprint(x) for x in self._outputs(p)) != ref:
                problems.append(f"corpus {p.out_dir}: outputs differ from the checked pass")
                failed += 2
        return problems, failed


WORKLOADS = {w.name: w for w in (WarehouseBuild, WarehouseQuery, CorpusNeardupRag)}
