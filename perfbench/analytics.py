"""The ``warehouse_sql`` and ``curation_graph`` workloads: catalog queries
over seed-generated warehouse tables.

A pass runs each query once, one after another. A query is two layers:
``build`` is the query-function call (eager probes, checkpoints and the
``functions.*`` driver paths run here) and ``exec`` is the final action,
a noop write. The write carries an observed count and order-insensitive
hash of every output row, so each pass's result is checked against the
first pass's without running the query again. Once per run, outside the
timed passes, each query's result is compared with its DuckDB oracle.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from bi_gcp_stitch_repl_spark.queries import catalog

from . import datagen, oracle

WAREHOUSE_SQL = (
    "flagship_union_history", "q1_pricing_summary", "q3_top_revenue_orders",
    "q5_local_supplier_volume", "q7_volume_shipping", "q21_waiting_suppliers",
    "a3_conditional_rollup", "w_topk_per_group", "x_asof_join",
    "st_session_windows",
)
CURATION_GRAPH = (
    "x_dedup_exact", "x_minhash_lsh_candidates", "x_knn_cosine_topk",
    "x_semdedup", "x_dsir_weights", "x_bpe_merges", "x_pagerank_trade",
    "x_communities_trade", "x_random_walks_trade", "x_rank_domains",
)
#: scale factor of the generated tables. At sf0.01 every graph and
#: vocabulary input is still far under the ``functions.*`` driver
#: thresholds, and on a 4-core host a warm curation pass spends 4.1-4.7 s
#: building against 2.6-2.9 s executing. At sf0.1 the first pass takes
#: 40 s and a warm one 17 s, with execution (10 s, most of it x_semdedup)
#: ahead of building (7 s), and a run no longer fits the time budget.
SCALE = {"full": 0.01, "smoke": 0.001}


class CatalogQueries:
    def __init__(self, name: str, queries: tuple[str, ...], spark, work_dir: str,
                 seed: int, nproc: int, size: str = "full"):
        self.name = name
        self.queries = queries
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.nproc = nproc
        self.sf = SCALE[size]
        fns = catalog.queries()
        self.fns = {q: fns[q] for q in queries}
        self.first_hash: dict[str, tuple] = {}
        self.last_frames: dict = {}

    def setup(self) -> None:
        self.data_dir = os.path.join(self.work_dir, "data")
        datagen.generate(self.data_dir, self.sf, self.seed, self.nproc)

    def run_pass(self, tracer, layers) -> tuple[list, list[str]]:
        timings: list[tuple[str, float]] = []
        failures: list[str] = []
        for q in self.queries:
            t0 = time.perf_counter()
            obs = Observation(f"{q}-{time.monotonic_ns()}")
            try:
                with tracer.span(q):
                    with tracer.span(f"{q}:build", group=f"{self.name}:{q}:build") as b:
                        df = self.fns[q](self.spark, self.data_dir)
                    with tracer.span(f"{q}:exec", group=f"{self.name}:{q}:exec") as e:
                        cols = [F.col(f"`{c}`") for c in df.columns]
                        df.observe(
                            obs,
                            F.count(F.lit(1)).alias("rows"),
                            F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("hash"),
                        ).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 - a failed query is counted, the pass goes on
                timings.append((q, time.perf_counter() - t0))
                failures.append(f"{q}: {type(exc).__name__}: {exc}"[:300])
                continue
            timings.append((q, time.perf_counter() - t0))
            if layers is not None:
                layers.add("queries.build_s", b["end"] - b["start"])
                layers.add("queries.exec_s", e["end"] - e["start"])
            got = obs.get
            digest = (got["rows"], str(got["hash"]))
            if self.first_hash.setdefault(q, digest) != digest:
                failures.append(f"{q}: pass result {digest} != first pass {self.first_hash[q]}")
            self.last_frames[q] = df
        return timings, failures

    def final_check(self) -> tuple[int, list[str]]:
        """Compare the last pass's frames with DuckDB over the same files;
        returns (comparisons made, problems)."""
        sql = catalog.oracle_sql()
        con = oracle.duck_connection(self.data_dir, datagen.TABLES)
        problems = []
        checked = 0
        try:
            for q, df in self.last_frames.items():
                if q not in sql:
                    continue
                checked += 1
                try:
                    got, want = oracle.spark_digest(df), oracle.duck_digest(con, sql[q])
                except Exception as exc:  # noqa: BLE001 - reported as a failed check
                    problems.append(f"{q}: oracle check raised {type(exc).__name__}: {exc}"[:300])
                    continue
                if got != want:
                    problems.append(f"{q}: spark {got} != duckdb oracle {want}")
        finally:
            con.close()
        return checked, problems
