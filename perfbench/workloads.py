"""The benchmark's workloads.

Each workload generates its inputs from the seed, computes the DuckDB
oracle results for them, and runs iterations. An iteration drives the
package's public functions from inputs present to outputs committed;
``check`` compares one iteration's outputs with the oracle results and
returns the mismatches. Spans name the layer each call goes into.
"""

from __future__ import annotations

import glob
import os
import shutil

import duckdb
import gen
import numpy as np
import pyarrow.parquet as pq
from spans import Tracer

from glamira_end_to_end_data_pipeline_spark.plans import ORACLES, QUERIES, models
from glamira_end_to_end_data_pipeline_spark.plans import star_queries
from glamira_end_to_end_data_pipeline_spark.sources import read_table
from glamira_end_to_end_data_pipeline_spark.streaming import run_incremental_load_once
from glamira_end_to_end_data_pipeline_spark.testing import compare_frames, duckdb_oracle


class Workload:
    name = ""
    input_rows = 0
    spans: tuple[str, ...] = ()
    # (span, counter) pairs that are 0 by construction, so not reported
    zero: frozenset[tuple[str, str]] = frozenset()
    # model or entry name -> registry entry whose oracle SQL gives its rows
    oracles: dict[str, str] = {}
    # table -> its generated files under the input directory
    views: dict[str, str] = {}

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.in_dir = ""  # the generated inputs the passes read
        self.expected = {}
        self.spark = None
        self.tracer: Tracer | None = None

    def generate(self, in_dir: str) -> None:
        raise NotImplementedError

    def attach(self, spark, tracer: Tracer) -> None:
        """Take the session the passes run in."""
        self.spark = spark
        self.tracer = tracer

    def compute_expected(self) -> None:
        """Oracle results for the inputs. Touches DuckDB only, so it can
        run on a thread while the Spark session starts."""
        con = duckdb.connect()
        try:
            for table, files in self.views.items():
                path = os.path.join(self.in_dir, files)
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
            self.expected = {k: duckdb_oracle(con, ORACLES[v]) for k, v in self.oracles.items()}
        finally:
            con.close()

    def iterate(self, k: int):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def _compare(self, name: str, pdf, oracle: str = "") -> list[str]:
        r = compare_frames(name, pdf, self.expected[oracle or name])
        return [] if r.ok else [f"{name}: {r.detail} ({r.spark_rows} vs {r.oracle_rows} rows)"]


class StarFullRefresh(Workload):
    """The reference's ELT path. Export chunks land in ``n_loads`` rounds
    and after each round the incremental loader appends what has landed to
    the warehouse table. Then the raw tables and every dbt model are rebuilt
    in dependency order, each written as Parquet and read back like a dbt
    ``table``, and the dbt incremental fact entry runs over the loaded
    table."""

    name = "star_full_refresh"
    input_rows = 200_000
    n_loads = 5
    raw = ("summary", "ip_locations", "product_details")
    model_names = (
        "stg_summary",
        "stg_summary_date_range",
        "dim_customer",
        "dim_location",
        "dim_product",
        "dim_session_context",
        "dim_date",
        "fact_sales_order",
    )
    entry = "star_fact_sales_order_incremental"
    spans = (
        ("streaming.load",)
        + tuple(f"raw.{t}" for t in raw)
        + tuple(f"models.{m}" for m in model_names)
        + (f"entry.{entry}.construct", f"entry.{entry}.execute")
    )
    # map-only steps shuffle nothing, the fact model broadcasts every
    # dimension at this size, and collecting the entry's result writes nothing
    zero = frozenset(
        (s, "shuffle_mb")
        for s in (
            "raw.summary",
            "models.stg_summary",
            "models.dim_product",
            "models.dim_date",
            "models.fact_sales_order",
            f"entry.{entry}.execute",
        )
    ) | {(f"entry.{entry}.execute", "output_mb")}
    oracles = {
        "stg_summary_date_range": "star_date_range",
        "dim_customer": "star_dim_customer",
        "dim_location": "star_dim_location",
        "dim_product": "star_dim_product",
        "dim_session_context": "star_dim_session_context",
        "dim_date": "star_dim_date",
        "fact_sales_order": "star_fact_sales_order",
    }
    views = {"events": "events/*.parquet"}

    def generate(self, in_dir):
        gen.write_event_chunks(self.seed, self.input_rows, os.path.join(in_dir, "events"))

    def attach(self, spark, tracer):
        super().attach(spark, tracer)
        chunks = sorted(glob.glob(os.path.join(self.in_dir, "events", "*.parquet")))
        self.rounds = [list(r) for r in np.array_split(chunks, self.n_loads)]
        self.schema = self.spark.read.parquet(chunks[0]).schema

    def _load(self, it: str) -> None:
        src, target, audit, ckpt = (
            os.path.join(it, d) for d in ("landing", "events", "audit", "checkpoint")
        )
        os.makedirs(src)
        for chunks in self.rounds:
            for chunk in chunks:
                # land atomically, as an object finalize does: the file source
                # skips dot-files, so the rename is what makes the chunk visible
                tmp = os.path.join(src, ".landing")
                shutil.copyfile(chunk, tmp)
                os.replace(tmp, os.path.join(src, os.path.basename(chunk)))
            with self.tracer.span("streaming.load"):
                run_incremental_load_once(
                    self.spark, src, target, audit, ckpt, self.schema, "events"
                )

    def _table(self, span: str, df, it: str):
        path = os.path.join(it, "models", span.split(".", 1)[1])
        with self.tracer.span(span):
            df.write.mode("overwrite").parquet(path)
            return self.spark.read.parquet(path)

    def iterate(self, k):
        it = os.path.join(self.work, "out", f"iter-{k}")
        self._load(it)
        events = read_table(self.spark, it, "events")
        t = self._table
        summary = t("raw.summary", star_queries.summary_from_events(events), it)
        ip_locations = t("raw.ip_locations", star_queries.ip_locations_from_events(events), it)
        product_details = t(
            "raw.product_details", star_queries.product_details_from_events(events), it
        )
        stg = t("models.stg_summary", models.stg_summary(summary), it)
        rng = t("models.stg_summary_date_range", models.stg_summary_date_range(stg), it)
        customer = t("models.dim_customer", models.dim_customer(stg), it)
        location = t("models.dim_location", models.dim_location(ip_locations), it)
        product = t("models.dim_product", models.dim_product(product_details), it)
        session = t("models.dim_session_context", models.dim_session_context(stg), it)
        date = t("models.dim_date", models.dim_date(rng), it)
        t(
            "models.fact_sales_order",
            models.fact_sales_order(stg, product, customer, location, date, session),
            it,
        )
        with self.tracer.span(f"entry.{self.entry}.construct"):
            df = QUERIES[self.entry](self.spark, it)
        with self.tracer.span(f"entry.{self.entry}.execute"):
            incremental = df.toPandas()
        return it, incremental

    def check(self, result):
        """Loaded rows and audit rows, then each model's files and the
        incremental fact against their oracles. Files are read with
        pyarrow, so the check runs no Spark job."""
        it, incremental = result
        n = self.input_rows
        loaded = pq.read_table(os.path.join(it, "events")).num_rows
        audit = pq.read_table(os.path.join(it, "audit")).column("row_count").to_pylist()
        bad = [] if loaded == n else [f"loaded {loaded} rows of {n}"]
        if len(audit) != self.n_loads or sum(audit) != n:
            bad.append(f"audit rows {audit} do not record {self.n_loads} loads of {n} rows")
        for model in self.oracles:
            pdf = pq.read_table(os.path.join(it, "models", model)).to_pandas()
            bad += self._compare(model, pdf)
        # the incremental fact must equal the full rebuild (FACT_ORACLE_SQL)
        return bad + self._compare(self.entry, incremental, "fact_sales_order")


class CurationOps(Workload):
    """The two curation capstone entries. Their results are a few rows,
    so collecting them is the sink and the check reuses them."""

    name = "curation_ops"
    n_docs, n_vecs = 1_000, 400
    input_rows = n_docs + n_vecs
    entries = ("text_pretraining_pipeline", "emb_indexing_pipeline")
    spans = tuple(f"entry.{e}.{p}" for e in entries for p in ("construct", "execute"))
    zero = frozenset((s, "output_mb") for s in spans)  # the entries write nothing
    oracles = {e: e for e in entries}
    views = {t: f"{t}.parquet" for t in ("documents", "embeddings")}

    def generate(self, in_dir):
        gen.write_corpus(self.seed, self.n_docs, self.n_vecs, in_dir)

    def iterate(self, k):
        results = {}
        for e in self.entries:
            with self.tracer.span(f"entry.{e}.construct"):
                df = QUERIES[e](self.spark, self.in_dir)
            with self.tracer.span(f"entry.{e}.execute"):
                results[e] = df.toPandas()
        return results

    def check(self, results):
        return [m for e in self.entries for m in self._compare(e, results[e])]


WORKLOADS = {w.name: w for w in (StarFullRefresh, CurationOps)}
