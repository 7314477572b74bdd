"""The ``elt_nightly`` workload: one replication night per pass.

A night drives ``jobs.pipelines`` with the real ``jobs.entities`` manifest
params over the seeded synthetic APIs of ``saas.World``:

1. ``bexio_orders_de``: offset protocol, child explode, parent-key upsert;
2. ``billwerk_customers``: keyset protocol, struct/map flatten, truncate;
3. ``stripe_charges``: starting_after protocol, upsert;
4. ``billwerk_incremental_invoices``: watermark slice merged into a large
   invoice table that set-up seeds and z-orders on the key;
5. ``validated_merge``: the late correction batch; invalid rows go to
   quarantine;
6. ``history_capture`` of the orders' (id, status) pairs;
7. ``reverse_etl_company_status`` into an in-process sender;
8. ``read_invoices``: a pruned ``VersionedTable.read`` plus the typed
   ``changes_feed`` over the night's invoice commits;
9. ``compact_tables(incremental=True)`` over every commit-log table.

Jobs 1-3 are the full-scan refresh class, 4-5 the incremental class and
8 the read class. After each night the warehouse is compared with the
world's expected state; a mismatch is a failed job.

Layers are measured from outside: the ``transport`` wrapper counts API
calls, rows and time spent inside the simulated API; the
``table_factory`` seam hands the pipelines a ``VersionedTable`` subclass
that times each commit and reads its file accounting from the log.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager, nullcontext
from functools import partial

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from bi_gcp_stitch_repl_spark.jobs import pipelines
from bi_gcp_stitch_repl_spark.jobs.entities import ENTITY_MANIFEST
from bi_gcp_stitch_repl_spark.ops.validate import Expectations
from bi_gcp_stitch_repl_spark.sinks.merge import WatermarkStore
from bi_gcp_stitch_repl_spark.sinks.versioned import VersionedTable
from bi_gcp_stitch_repl_spark.sources import rest

from . import saas
from .trace import Layers

#: world sizes: (orders, customers, charges, seeded invoices,
#: invoices per night, corrections per night). Orders (about three
#: positions each) follow the reference sizing. The seeded invoice table
#: and its nightly slice are a quarter of it (1M rows, a 10k slice):
#: seeding and z-ordering 1M rows takes 11-15 s of every run's set-up on a
#: 4-core host, more than the benchmark's time budget leaves. Customers,
#: charges and the correction batch are assumptions.
SIZES = {
    "full": (20_000, 1500, 2000, 250_000, 2500, 300),
    "smoke": (60, 40, 50, 2000, 50, 30),
}
JOBS = (
    "bexio_orders_de", "billwerk_customers", "stripe_charges",
    "billwerk_incremental_invoices", "validated_merge", "history_capture",
    "reverse_etl_company_status", "read_invoices", "compact_tables",
)
REFRESH = JOBS[:3]
INCREMENTAL = JOBS[3:5]
READ = ("read_invoices",)
ENTITY_TABLES = {
    "bexio_orders_de": "bexio_orders",
    "billwerk_customers": "billwerk_customers",
    "stripe_charges": "stripe_charges",
}
INVOICE_KEY = "invoice_id"


class TracedTable(VersionedTable):
    """``VersionedTable`` that times every commit it makes and reads the
    commit's file accounting (rewritten, added, live, bytes) back from
    the log. Handed to the pipelines through ``table_factory``."""

    def __init__(self, spark, path, *, layers: Layers, **kw):
        super().__init__(spark, path, **kw)
        self.layers = layers
        self._depth = 0

    def _write(self, op, *args, **kw):
        if self._depth:  # merge_upsert's first commit is an overwrite
            return op(*args, **kw)
        before = set(self.files_at()) if self.exists() else set()
        self._depth += 1
        try:
            with self.layers.timed("sinks.versioned.write_s"):
                out = op(*args, **kw)
        finally:
            self._depth -= 1
        after = set(self.files_at())
        removed, added = before - after, after - before
        self.layers.add("sinks.versioned.files_rewritten", len(removed))
        self.layers.add("sinks.versioned.files_added", len(added))
        self.layers.add("sinks.versioned.live_before", len(before))
        self.layers.add("sinks.versioned.bytes_written", sum(
            os.path.getsize(os.path.join(self.path, f)) for f in added))
        return out

    def overwrite(self, df, txn=None):
        return self._write(super().overwrite, df, txn=txn)

    def merge_upsert(self, batch, keys, **kw):
        return self._write(super().merge_upsert, batch, keys, **kw)


class Api:
    """The transport handed to the pipelines: the world's API, with calls,
    rows and time inside the API counted."""

    def __init__(self, world: saas.World):
        self.world = world
        self.layers: Layers | None = None

    def __call__(self, url: str, params: dict):
        t0 = time.perf_counter()
        payload = self.world.transport(url, params)
        if self.layers is not None:
            rows = payload["data"] if isinstance(payload, dict) else payload
            self.layers.add("sources.rest.api_wait_s", time.perf_counter() - t0)
            self.layers.add("sources.rest.api_calls", 1)
            self.layers.add("sources.rest.rows_fetched", len(rows))
        return payload


def _expectations(batch):
    return (
        Expectations(batch)
        .expect_not_null(INVOICE_KEY, "status")
        .expect_between("amount", 0.0, 1_000_000.0)
        .expect_accepted_values("status", list(saas.INVOICE_STATUSES))
    )


class EltNightly:
    name = "elt_nightly"
    def __init__(self, spark, work_dir: str, seed: int, nproc: int, size: str = "full"):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.nproc = nproc
        self.sizes = SIZES[size]
        self.night = 0

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        """Fresh world and warehouse; seeds the invoice table (z-ordered on
        the key) and the watermark the incremental job resumes from."""
        root = os.path.join(self.work_dir, "elt")
        self.wh = {t: os.path.join(root, t) for t in (
            *ENTITY_TABLES.values(), "bexio_positions", "invoices",
            "quarantine", "order_status_history")}
        self.watermarks = os.path.join(root, "watermarks.json")
        self.world = saas.World(self.seed, *self.sizes)
        self.api = Api(self.world)
        n = self.world.seeded_invoices
        seed_df = self.spark.range(0, n, 1, self.nproc).select(
            F.col("id").alias(INVOICE_KEY),
            F.round((F.col("id") * 7919 % 100_000) / 100.0, 2).alias("amount"),
            F.element_at(
                F.array(*[F.lit(s) for s in saas.INVOICE_STATUSES]),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("status"),
        )
        table = VersionedTable(self.spark, self.wh["invoices"])
        table.overwrite(seed_df)
        table.optimize(self.nproc * 2, zorder_by=[INVOICE_KEY])
        # Nightly compaction packs only files under half the smallest
        # seeded file: the slivers a night's merges leave. The package
        # default (32 MB) is sized for production files; here every seeded
        # file is under it, so the default would repack the whole
        # key-clustered table into one file every night.
        self.compact_min_bytes = min(
            os.path.getsize(os.path.join(table.path, f)) for f in table.files_at()) // 2
        WatermarkStore(self.watermarks).advance("billwerk_invoices", n - 1)

    # -- one night ------------------------------------------------------------

    def run_pass(self, tracer, layers: Layers | None) -> tuple[list, list[str]]:
        """Run one night; returns ([(job, seconds)], failures)."""
        spark = self.spark
        self.world.advance()
        self.night += 1
        expected = self.world.expected()
        clock = f"2024-02-{min(28, self.night):02d} 03:00:00"
        self.api.layers = layers
        if layers is not None:
            factory = partial(TracedTable, layers=layers)
        else:
            factory = VersionedTable
        cdc_factory = partial(factory, enable_cdc=True)
        inv_table = VersionedTable(spark, self.wh["invoices"])
        night_start = inv_table.latest_version()
        results: dict[str, object] = {}
        timings: list[tuple[str, float]] = []
        failures: list[str] = []

        def entity(job):
            params = dict(ENTITY_MANIFEST[job].params)
            path = self.wh[ENTITY_TABLES[job]]
            child = self.wh["bexio_positions"] if "child" in params else None
            return pipelines.entity_replication(
                spark, self.api, path, child_warehouse_path=child,
                clock=clock, table_factory=factory, **params)

        def validated():
            batch = spark.createDataFrame(
                self.world.corrections,
                f"{INVOICE_KEY} long, amount double, status string")
            return pipelines.validated_merge(
                spark, batch, self.wh["invoices"], [INVOICE_KEY], _expectations,
                quarantine_path=self.wh["quarantine"], table_factory=cdc_factory)

        def orders():
            return VersionedTable(spark, self.wh["bexio_orders"]).read()

        def reverse():
            posted = spark.sparkContext.accumulator(0)

            def send(batch):
                posted.add(len(batch))
                return True

            warehouse = orders().select(
                F.col("contact_id").alias("company_id"),
                F.col("kb_item_status_id").cast("string").alias("status"),
                F.col("id").alias("priority"),
            )
            ok, failed = pipelines.reverse_etl_company_status(spark, warehouse, send)
            return ok, failed, posted.value

        def read_invoices():
            lo = self.world.invoice_hi - 2 * self.world.invoices_per_night
            hi = self.world.invoice_hi - 1
            table = VersionedTable(spark, self.wh["invoices"])
            in_range = table.read(where={INVOICE_KEY: (lo, hi)}).filter(
                F.col(INVOICE_KEY).between(lo, hi)).count()
            feed = dict(
                table.changes_feed(night_start).groupBy("_change_type").count().collect())
            if layers is not None:
                kept = len(table.prune_files({INVOICE_KEY: (lo, hi)}))
                layers.add("sinks.versioned.files_read_ratio",
                           kept / max(1, len(table.files_at())))
            return in_range, hi - lo + 1, feed

        def compact():
            return pipelines.compact_tables(
                spark, self._versioned_paths(), incremental=True,
                min_file_bytes=self.compact_min_bytes)

        steps = {
            "bexio_orders_de": lambda: entity("bexio_orders_de"),
            "billwerk_customers": lambda: entity("billwerk_customers"),
            "stripe_charges": lambda: entity("stripe_charges"),
            "billwerk_incremental_invoices": lambda: pipelines.billwerk_incremental_invoices(
                spark, self.api, self.wh["invoices"], self.watermarks,
                api_base=saas.INVOICES_URL, table_factory=cdc_factory),
            "validated_merge": validated,
            "history_capture": lambda: pipelines.history_capture(
                spark, orders().select("id", "kb_item_status_id"),
                self.wh["order_status_history"], keys=["id", "kb_item_status_id"]),
            "reverse_etl_company_status": reverse,
            "read_invoices": read_invoices,
            "compact_tables": compact,
        }
        before_compact = None
        with timed_to_dataframe(layers) if layers is not None else nullcontext():
            for job in JOBS:
                if job == "compact_tables" and layers is not None:
                    before_compact = self._live_files()
                t0 = time.perf_counter()
                try:
                    with tracer.span(job, group=f"{self.name}:{job}"):
                        results[job] = steps[job]()
                except Exception as exc:  # noqa: BLE001 - a failed job is counted, the night goes on
                    failures.append(f"{job}: {type(exc).__name__}: {exc}"[:300])
                    results[job] = None
                timings.append((job, time.perf_counter() - t0))
        if layers is not None:
            self._record_layers(layers, dict(timings), results, before_compact)
        failures += self._check(results, expected)
        return timings, failures

    def final_check(self) -> tuple[int, list[str]]:
        """Every night is checked as it ends; nothing is left for the end."""
        return 0, []

    # -- checks against the world's expected state ------------------------------

    def _versioned_paths(self) -> list[str]:
        return [self.wh[t] for t in (*ENTITY_TABLES.values(), "bexio_positions", "invoices")]

    def _live_files(self) -> dict[str, set]:
        return {p: set(VersionedTable(self.spark, p).files_at()) for p in self._versioned_paths()}

    def _check(self, results: dict, exp: dict) -> list[str]:
        spark = self.spark
        problems = []

        def want(job, what, got, expected):
            if got != expected:
                problems.append(f"{job}: {what} {got!r} != expected {expected!r}")

        def count(path, plain=False):
            # rows of the current snapshot from the parquet footers: the
            # log's live files, or every part file of a plain table
            if plain:
                files = [f for f in os.listdir(path) if f.endswith(".parquet")]
            else:
                files = VersionedTable(spark, path).files_at()
            return sum(pq.ParquetFile(os.path.join(path, f)).metadata.num_rows for f in files)

        if results["bexio_orders_de"] is not None:
            want("bexio_orders_de", "orders", count(self.wh["bexio_orders"]), exp["bexio_orders"])
            want("bexio_orders_de", "positions", count(self.wh["bexio_positions"]), exp["bexio_positions"])
        if results["billwerk_customers"] is not None:
            want("billwerk_customers", "rows", count(self.wh["billwerk_customers"]), exp["billwerk_customers"])
        if results["stripe_charges"] is not None:
            want("stripe_charges", "rows", count(self.wh["stripe_charges"]), exp["stripe_charges"])
        if results["billwerk_incremental_invoices"] is not None:
            want("billwerk_incremental_invoices", "slice",
                 results["billwerk_incremental_invoices"], self.world.invoices_per_night)
            want("billwerk_incremental_invoices", "rows", count(self.wh["invoices"]), exp["invoices"])
        if results["validated_merge"] is not None:
            n_bad = len(self.world.corrections) - exp["feed_update"]
            want("validated_merge", "split", results["validated_merge"],
                 {"merged": exp["feed_update"], "quarantined": n_bad})
            want("validated_merge", "quarantine", count(self.wh["quarantine"], plain=True),
                 exp["quarantine"])
        if results["history_capture"] is not None:
            want("history_capture", "appended", results["history_capture"], exp["history_appended"])
            want("history_capture", "rows", count(self.wh["order_status_history"], plain=True),
                 exp["history"])
        if results["reverse_etl_company_status"] is not None:
            ok, failed, posted = results["reverse_etl_company_status"]
            want("reverse_etl_company_status", "rows posted", posted, exp["companies"])
            want("reverse_etl_company_status", "failed batches", failed, 0)
        if results["read_invoices"] is not None:
            in_range, want_range, feed = results["read_invoices"]
            want("read_invoices", "pruned read", in_range, want_range)
            want("read_invoices", "change feed", feed, {
                "insert": exp["feed_insert"],
                "update_preimage": exp["feed_update"],
                "update_postimage": exp["feed_update"],
            })
        return problems

    # -- per-layer numbers of one traced night -----------------------------------

    def _record_layers(self, layers: Layers, times: dict, results: dict, before: dict) -> None:
        layers.add("sinks.versioned.read_s", times["read_invoices"])
        layers.add("sinks.versioned.compact_s", times["compact_tables"])
        after = self._live_files()
        layers.add("sinks.versioned.files_compacted",
                   sum(len(before[p] - after[p]) for p in after))
        layers.add("sinks.versioned.files_live", sum(len(v) for v in after.values()))
        layers.add("sinks.merge.history_capture_s", times["history_capture"])
        layers.add("sinks.merge.rows_appended", results["history_capture"] or 0)
        layers.add("sinks.reverse.post_s", times["reverse_etl_company_status"])
        ok, failed, _ = results["reverse_etl_company_status"] or (0, 0, 0)
        layers.add("sinks.reverse.batches_ok", ok)
        layers.add("sinks.reverse.batches_failed", failed)
        split = results["validated_merge"] or {}
        layers.add("ops.validate.rows_merged", split.get("merged", 0))
        layers.add("ops.validate.rows_quarantined", split.get("quarantined", 0))


@contextmanager
def timed_to_dataframe(layers: Layers):
    """Time ``sources.rest.to_dataframe`` while a traced night runs: the
    pipelines look it up on the module, so the wrapper sees every call."""
    original = rest.to_dataframe

    def wrapper(*args, **kw):
        with layers.timed("sources.rest.to_dataframe_s"):
            return original(*args, **kw)

    rest.to_dataframe = wrapper
    try:
        yield
    finally:
        rest.to_dataframe = original
