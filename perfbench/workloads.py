"""The benchmark's workloads: inputs, one job, its correctness check.

A job runs through the package's public entry points on a directory of
generated input files; each job gets its own copy of that directory (hard
links under a new path), so no per-path memo, cached frame or artifact of
an earlier job can serve it. Each job runs under its own Spark job group,
so the engine metrics can be split per job.
"""

from __future__ import annotations

import csv
import glob
import importlib.util
import os
import time

import duckdb

from etl_data_processor_spark import io as IO
from etl_data_processor_spark import queries_north as QN
from etl_data_processor_spark.ops import dedup as D
from etl_data_processor_spark.ops import enrich as EN
from etl_data_processor_spark.ops import graph as G
from etl_data_processor_spark.ops import html as H
from etl_data_processor_spark.ops import sampling as SMP
from etl_data_processor_spark.ops import scalar as S
from etl_data_processor_spark.pipelines import medicines as M

from perfbench import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _oracle_module():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Workload:
    name: str
    tables: tuple[str, ...]
    records: int  # input records per job, the rows_per_s numerator

    def prepare(self, spark, seed: int, master_dir: str) -> None:
        """Generate the inputs and the expected result (not timed)."""
        raise NotImplementedError

    def steps(self, spark, in_dir: str, out_dir: str):
        """Yield (step name, thunk); the thunks together are one job and
        each returns that step's result."""
        raise NotImplementedError

    def check(self, results: dict) -> bool:
        raise NotImplementedError

    def trace_points(self) -> list[tuple[object, str, str]]:
        """(module, attribute, span name) of the public functions the
        traced run wraps."""
        return []

    def counters(self, results: dict) -> dict:
        """Per-job workload counters read after the job (not timed)."""
        return {}

    def isolation_error(self, counters: dict) -> str | None:
        """Why a job was not cold, judged from outside; None if it was."""
        return None

    def traced_counters(self, tracer) -> dict:
        """Counters read after a traced job, from its materialized frames."""
        return {}

    def derive(self, layers: dict) -> dict:
        """Workload ratios from the per-job medians in ``layers``."""
        return {}


class Medicines(Workload):
    """Raw listing + detail HTML -> DOM extraction -> classify/filter ->
    batch enrichment -> CSV, the reference's own job."""

    name = "medicines_html"
    tables = ("listing", "details")
    records = gen.MEDICINES["cards"]
    # per-call service time of the stand-in enrichment backend
    SERVICE_S = 0.05

    def prepare(self, spark, seed, master_dir):
        self.truth = sorted(gen.medicines(seed, master_dir))
        sc = spark.sparkContext
        self.acc = {k: sc.accumulator(0.0) for k in ("calls", "keys", "wait_s")}
        self._last = {k: 0.0 for k in self.acc}
        calls, keys, wait, service_s = (self.acc["calls"], self.acc["keys"],
                                        self.acc["wait_s"], self.SERVICE_S)
        stub = EN.deterministic_stub_client

        def factory():
            def client(texts):
                t0 = time.perf_counter()
                time.sleep(service_s)
                calls.add(1.0)
                keys.add(float(len(texts)))
                wait.add(time.perf_counter() - t0)
                return stub(texts)
            return client

        self.factory = factory

    def steps(self, spark, in_dir, out_dir):
        def job():
            listing = spark.read.parquet(os.path.join(in_dir, "listing.parquet"))
            details = spark.read.parquet(os.path.join(in_dir, "details.parquet"))
            cards = self.cards = M.cards_from_html(listing, details)
            IO.write_csv(M.run_pipeline(cards, client_factory=self.factory), out_dir)
            return out_dir
        yield "medicines", job

    def check(self, results):
        rows = []
        for part in sorted(glob.glob(os.path.join(results["medicines"], "part-*.csv"))):
            with open(part, newline="", encoding="utf-8") as f:
                r = list(csv.reader(f))
            if r and r[0] != M.OUTPUT_COLUMNS:
                return False
            rows.extend(tuple(x) for x in r[1:])
        return sorted(rows) == self.truth

    def trace_points(self):
        return [
            (M, "cards_from_html", "pipelines.medicines.cards_from_html"),
            (H, "extract_cards", "ops.html.extract_cards"),
            (H, "extract_details", "ops.html.extract_details"),
            (M, "run_pipeline", "pipelines.medicines.run_pipeline"),
            (M, "batch_enrich", "ops.enrich.batch_enrich"),
            (IO, "write_csv", "io.write_csv"),
        ]

    def counters(self, results):
        now = {k: a.value for k, a in self.acc.items()}
        d = {k: now[k] - self._last[k] for k in now}
        self._last = now
        out_dir = results.get("medicines")
        return {"ops.enrich.client_calls": d["calls"], "ops.enrich.keys": d["keys"],
                "ops.enrich.client_wait_s": d["wait_s"],
                "io.written_mb": dir_bytes(out_dir) / 2**20 if out_dir else 0.0}

    def traced_counters(self, tracer):
        """Rows the pipeline classifies, approves and outputs; the first two
        counted on the extracted cards with the pipeline's own classifier."""
        status = S.classify_first_match(self.cards["card_text"], S.DECISION_PATTERNS)
        c = self.cards.select(status.alias("s")).groupBy("s").count().collect()
        n = {r["s"]: r["count"] for r in c}
        out = [s["rows_out"] for s in tracer.spans
               if s["job"] == tracer.job and s["name"] == "pipelines.medicines.run_pipeline"]
        return {"pipelines.medicines.rows_classified": sum(v for k, v in n.items() if k),
                "pipelines.medicines.rows_approved": sum(n.get(k, 0) for k in gen.APPROVED),
                "pipelines.medicines.rows_out": out[-1] if out else 0}

    def derive(self, layers):
        pages = self.records + -(-self.records // gen.MEDICINES["cards_per_page"])
        keys = layers.pop("ops.enrich.keys", 0.0)
        calls = layers.get("ops.enrich.client_calls", 0.0)
        approved = layers.get("pipelines.medicines.rows_approved", 0.0)
        return {
            # rows entering the DOM-parse passes / listing + detail pages
            "ops.html.pages_parsed_ratio": layers.pop("ops.html.pages_parsed", 0.0) / pages,
            "ops.enrich.keys_per_call": keys / calls if calls else 0.0,
            "ops.enrich.distinct_ratio": keys / approved if approved else 0.0,
        }


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


class CurationLinkage(Workload):
    """Two entity-resolution passes in one job. Documents: decontaminate
    -> near-duplicate clusters -> weighted sample (Arrow hash kernels, the
    LSH artifact store, connected components). Customers: clean-vs-dirty
    record linkage over hot-key names (one Arrow symmetric-delete pass per
    side, JVM variant explode, exchange-heavy joins). Each query is checked
    against its DuckDB oracle on the same generated files with the
    canonical row comparison of scripts/check_oracle.py."""

    name = "curation_linkage"
    tables = ("documents", "customer")
    records = gen.DOCUMENTS["docs"] + gen.CUSTOMER["rows"]
    queries = ("q_corpus_pipeline", "q_record_linkage")

    def prepare(self, spark, seed, master_dir):
        import __spark_entry__ as entry

        gen.documents(seed, master_dir)
        gen.customer(seed, master_dir)
        self.fns = entry.queries()
        oracle_sql = entry.oracle_sql()
        self._oracle = _oracle_module()
        con = duckdb.connect()
        try:
            for t in self.tables:
                path = os.path.join(master_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            t0 = time.perf_counter()
            self.expected = {}
            for q in self.queries:
                rel = con.sql(oracle_sql[q])
                cols = list(rel.columns)
                self.expected[q] = (sorted(cols), self._oracle.canon_rows(cols, rel.fetchall()))
            self.oracle_s = time.perf_counter() - t0
        finally:
            con.close()

    def steps(self, spark, in_dir, out_dir):
        for q in self.queries:
            def run(q=q):
                df = self.fns[q](spark, in_dir)
                return df.columns, [tuple(r) for r in df.collect()]
            yield q, run

    def check(self, results):
        for q, (cols, rows) in results.items():
            if (sorted(cols), self._oracle.canon_rows(cols, rows)) != self.expected[q]:
                return False
        return True

    def isolation_error(self, counters):
        # a cold q_corpus_pipeline publishes its shingle and band-bucket
        # artifacts; fewer means an earlier job's artifact served it
        built = counters.get("ops.dedup.artifacts_built", 0)
        return None if built == 2 else f"{built} LSH artifacts built, expected 2"

    def counters(self, results):
        linkage = results.get("q_record_linkage")
        return {"linkage.matches": len(linkage[1])} if linkage else {}

    def derive(self, layers):
        verified = layers.get("linkage.pairs_verified", 0.0)
        return {"linkage.pair_precision":
                layers.pop("linkage.matches", 0.0) / verified if verified else 0.0}

    def trace_points(self):
        return [
            (QN, "_lsh_index", "ops.dedup.lsh_index"),
            (D, "minhash_lsh_pairs_between", "ops.dedup.pairs_between"),
            (G, "dedup_keep", "ops.graph.dedup_keep"),
            (SMP, "weighted_sample", "ops.sampling.weighted_sample"),
        ]


WORKLOADS = {w.name: w for w in (Medicines, CurationLinkage)}
