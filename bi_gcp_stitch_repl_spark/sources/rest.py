"""Paginated REST sources (SURVEY.md S1-S7) — the engine's one genuinely
custom "physical operator" family (SURVEY §4.3.1).

The reference implements four pagination protocols plus a threaded per-key
detail fan-out against six SaaS APIs; this module re-expresses them as:

- a driver-side **page iterator** per protocol (pages are API-bound, not
  data-bound: page counts are 10²-10⁴, so the driver loop is not the
  bottleneck — the *fetch latency* is, which the reference also serialized
  per page);
- ``to_dataframe``: pages → Arrow record batches against an explicit
  schema (autodetect only as dev fallback, SURVEY §1.3), each row checked
  by PySpark's own type verifier, then one ``spark.createDataFrame`` call
  on the whole ``pyarrow.Table``. No per-chunk frames and no union fold:
  the extract is a JVM-resident Arrow relation that every later action
  re-reads without a Python worker pass. Driver-side Python dicts stay
  bounded to one ``chunk_rows`` chunk. It is the sources layer's one
  driver-rows → DataFrame path (``sheets`` uses it too);
- ``fanout_fetch``: the per-key detail fetch (S7/J6) as ``mapInPandas``
  over the key DataFrame — Spark's distributed replacement for the
  reference's ThreadPoolExecutor (MAX_WORKERS 2-10,
  ``dags/bexio/bexio_invoice_and_line_items_de.py:190-216``): parallelism
  = partition count, rate limiting = per-partition token bucket, retry =
  per-request with exponential backoff
  (``dags/lex_office/lex_office_invoice_items.py:175-189``).

Transport is injectable (callable ``(url, params) -> dict``), so tests run
hermetically against fixture transports and production wires ``requests``
with auth; the engine never imports requests itself.

Protocols (reference sites):
- S1 offset/limit     ``dags/bexio/bexio_invoice_and_line_items_de.py:62-75``
- S2 page counter + ``last`` flag  ``dags/lex_office/lex_office_invoices.py:50-91``
- S3 keyset ``from=<last id>``     ``dags/billwerk/biilwerk_contracts.py:85-113``
- S4 = S3 + persisted watermark + row cap ``dags/billwerk/billwerk_invoices.py:49-99``
- S5 cursor link       ``dags/hubspot/tickets/get_tickets.py:43-58``
- S6 ``starting_after`` cursor     ``dags/stripe/stripe_charges.py:40-59``
  (the reference's first-page-only debug cap at ``stripe_charges.py:52`` is
  a defect we do not replicate, SURVEY §4.4)
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterable, Iterator
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession

Transport = Callable[[str, dict], Any]


@dataclass
class RetryPolicy:
    """urllib3-Retry-equivalent: bounded retries with exponential backoff on
    retryable failures (reference: Retry(total=5, backoff_factor=1) on
    429/5xx)."""

    total: int = 5
    backoff_factor: float = 1.0
    sleep: Callable[[float], None] = time.sleep

    def call(self, fn: Callable[[], Any]) -> Any:
        last: Exception | None = None
        for attempt in range(self.total + 1):
            try:
                return fn()
            except RetryableError as e:  # noqa: PERF203
                last = e
                if attempt < self.total:
                    self.sleep(self.backoff_factor * (2**attempt))
        raise last  # type: ignore[misc]


class RetryableError(Exception):
    """Transport should raise this for 429/5xx-class failures."""


@dataclass
class RateLimiter:
    """Client-side pacing (reference: time.sleep(2-3) per detail request).
    min_interval=0 disables; per-partition instances keep cluster-wide rate
    ≈ partitions / min_interval."""

    min_interval: float = 0.0
    clock: Callable[[], float] = time.monotonic
    sleep: Callable[[float], None] = time.sleep
    _last: float | None = field(default=None, repr=False)

    def wait(self) -> None:
        if self.min_interval <= 0:
            return
        now = self.clock()
        if self._last is not None:
            delta = self._last + self.min_interval - now
            if delta > 0:
                self.sleep(delta)
        self._last = self.clock()


# ---------------------------------------------------------------------------
# Page iterators — one per reference pagination protocol
# ---------------------------------------------------------------------------


def paginate_offset(
    transport: Transport,
    url: str,
    limit: int = 500,
    params: dict | None = None,
    items_key: str | None = None,
    retry: RetryPolicy | None = None,
) -> Iterator[list[dict]]:
    """S1: ``?offset=N&limit=M`` until a short/empty page."""
    retry = retry or RetryPolicy()
    offset = 0
    while True:
        p = dict(params or {}, offset=offset, limit=limit)
        data = retry.call(lambda: transport(url, p))
        items = data[items_key] if items_key else data
        if not items:
            return
        yield items
        if len(items) < limit:
            return
        offset += limit


def _require_items(data: dict, items_key: str, url: str) -> list:
    """A payload MISSING its items container raises instead of reading as
    an empty page: a renamed key after an API version bump (or a
    misconfigured ``items_key``) would otherwise produce a ZERO-row
    extract with zero errors — and a truncate-refresh pipeline would then
    overwrite its target with an empty table. An empty LIST under the key
    is a legitimate empty page and passes through."""
    if items_key not in data:
        raise KeyError(
            f"items container {items_key!r} missing from {url} response "
            f"(keys: {sorted(data)[:8]}) — refusing to read a renamed "
            "payload as an empty extract"
        )
    return data[items_key]


def paginate_page_flag(
    transport: Transport,
    url: str,
    size: int = 250,
    params: dict | None = None,
    items_key: str = "content",
    last_key: str = "last",
    retry: RetryPolicy | None = None,
) -> Iterator[list[dict]]:
    """S2: ``?page=0,1,…`` until the payload's ``last`` flag.

    A payload MISSING the flag raises instead of defaulting to "last":
    a renamed/dropped flag after an API version bump would otherwise
    silently truncate a multi-page extract to page 0 — partial
    replication with zero errors. An empty page with ``last=false``
    also stops (progress guard): looping on a stuck server would spin
    forever yielding nothing."""
    retry = retry or RetryPolicy()
    page = 0
    while True:
        p = dict(params or {}, page=page, size=size)
        data = retry.call(lambda: transport(url, p))
        if last_key not in data:
            raise KeyError(
                f"pagination flag {last_key!r} missing from {url} response "
                f"(keys: {sorted(data)[:8]}) — refusing to guess whether "
                "more pages exist"
            )
        items = _require_items(data, items_key, url)
        yield items
        if data[last_key] or not items:
            return
        page += 1


def paginate_keyset(
    transport: Transport,
    url: str,
    take: int = 500,
    params: dict | None = None,
    id_key: str = "Id",
    start_after: Any = None,
    row_limit: int | None = None,
    retry: RetryPolicy | None = None,
) -> Iterator[list[dict]]:
    """S3/S4: ``?from=<last id>`` keyset pages; stops when the cursor stops
    advancing. ``start_after`` resumes from a persisted watermark and
    ``row_limit`` caps total rows (the reference's billwerk_invoices
    incremental contract). Keyset (not offset) is the protocol that stays
    O(page) on arbitrarily large upstream tables."""
    retry = retry or RetryPolicy()
    cursor = start_after
    emitted = 0
    while True:
        p = dict(params or {}, take=take)
        if cursor is not None:
            p["from"] = cursor
        data = retry.call(lambda: transport(url, p))
        raw = list(data)
        items = raw
        if cursor is not None:
            # keyset APIs re-include the cursor row first (reference skips it)
            items = [it for it in items if it[id_key] != cursor]
        if not items:
            return
        # stall guard on the UNFILTERED page: after dropping the cursor
        # row, items can never contain the cursor id, so comparing the
        # filtered tail to it is dead code — a misbehaving endpoint that
        # re-serves the same page for from=<cursor> (pagination bug,
        # stale replica) would loop forever emitting duplicates. The raw
        # page's last id not advancing past the cursor IS the stall.
        new_cursor = raw[-1][id_key]
        if cursor is not None and new_cursor == cursor:
            return
        if row_limit is not None:
            items = items[: max(0, row_limit - emitted)]
            if not items:
                return
        emitted += len(items)
        yield items
        cursor = new_cursor
        if row_limit is not None and emitted >= row_limit:
            return


def paginate_cursor_link(
    transport: Transport,
    url: str,
    params: dict | None = None,
    items_key: str = "results",
    next_path: tuple[str, ...] = ("paging", "next", "link"),
    retry: RetryPolicy | None = None,
) -> Iterator[list[dict]]:
    """S5: follow ``paging.next.link`` until absent (HubSpot). A server
    re-serving a PREVIOUSLY SEEN link (pagination bug, stale replica,
    load-balanced A→B→A two-link cycle) would loop forever emitting
    duplicate pages — the keyset stall guard, applied to the full set of
    visited links, not just the immediate predecessor."""
    retry = retry or RetryPolicy()
    next_url: str | None = url
    next_params = dict(params or {})
    # bounded memory on a months-long backfill (millions of pages): a
    # real cycle revisits a RECENT link, so remembering the last 4096 is
    # enough to break any plausible loop without holding every URL
    from collections import OrderedDict

    seen: OrderedDict[str, None] = OrderedDict()
    while next_url:
        u = next_url
        pp = next_params
        seen[u] = None
        if len(seen) > 4096:
            seen.popitem(last=False)
        data = retry.call(lambda: transport(u, pp))
        yield _require_items(data, items_key, u)
        node: Any = data
        for k in next_path:
            node = node.get(k) if isinstance(node, dict) else None
            if node is None:
                break
        if node in seen:
            return  # stall/cycle: the link revisits a fetched page
        next_url = node
        next_params = {}  # cursor links embed their own params


def paginate_starting_after(
    transport: Transport,
    url: str,
    limit: int = 100,
    params: dict | None = None,
    items_key: str = "data",
    more_key: str = "has_more",
    id_key: str = "id",
    retry: RetryPolicy | None = None,
) -> Iterator[list[dict]]:
    """S6: Stripe-style ``starting_after=<last id>`` + ``has_more``. A
    server that ignores ``starting_after`` and re-serves the same page
    with ``has_more=true`` stalls the cursor — return instead of looping
    forever emitting duplicates (the keyset stall guard)."""
    retry = retry or RetryPolicy()
    cursor = None
    while True:
        p = dict(params or {}, limit=limit)
        if cursor is not None:
            p["starting_after"] = cursor
        data = retry.call(lambda: transport(url, p))
        items = _require_items(data, items_key, url)
        if items:
            new_cursor = items[-1][id_key]
            if cursor is not None and new_cursor == cursor:
                return  # stall: the cursor did not advance
            yield items
            cursor = new_cursor
        if not data.get(more_key, False) or not items:
            return


# ---------------------------------------------------------------------------
# Pages → DataFrame
# ---------------------------------------------------------------------------


def to_dataframe(
    spark: SparkSession,
    pages: Iterable[list],
    schema,
    chunk_rows: int = 50_000,
) -> DataFrame:
    """Materialize a page iterator into a DataFrame with an explicit schema.

    The reference pickles whole pandas frames through Airflow XCom between
    tasks (SURVEY §3.1 stage 3). Here pages are converted to Arrow record
    batches in ``chunk_rows`` slices as they arrive, so the driver holds
    Python dicts for one chunk at a time; the whole extract stays on the
    driver only as compact Arrow buffers, then as the JVM's local
    collection. All batches are handed to ``spark.createDataFrame`` once,
    as one ``pyarrow.Table``: the frame is a JVM-resident Arrow relation,
    so every later action re-reads it without a Python worker pass, and
    there is no per-chunk frame to union.

    Schema-on-write (SURVEY §1.3) is the ``createDataFrame(rows, schema)``
    contract, kept row for row: each row passes PySpark's own type
    verifier (Arrow alone would accept an int in a ``double`` field and
    ``1.0`` in a ``bigint`` one), then PySpark's own conversion to internal
    values, which fills missing keys with NULL at every nesting level (the
    reference's required_columns padding) and turns naive datetimes into
    epoch micros in process-local time, as ``TimestampType.toInternal``
    does. One difference remains: a ``Decimal`` with more scale than its
    field declares raises here, where ``createDataFrame(rows)`` rounds
    it (JSON payloads carry no ``Decimal``, and no extract schema
    declares one). Rows are dicts or positional tuples; ``schema`` is a
    ``StructType`` or a DDL string; an extract with no rows is an empty
    frame with that schema.

    Partitioning: below ``spark.sql.execution.arrow.localRelationThreshold``
    (48 MiB of Arrow data by default) the frame is a local relation that
    Spark splits into ``defaultParallelism`` even partitions for the whole
    extract, where the old per-chunk frames had that many per chunk.
    Above it, each Arrow batch is one partition, so each chunk is cut into
    ``defaultParallelism`` even batches, the split ``parallelize`` gives,
    or into just enough even batches to stay under
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows, because
    ``createDataFrame`` would otherwise re-cut each oversized batch into
    uneven partitions."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    verify = _make_type_verifier(schema)
    slices = spark.sparkContext.defaultParallelism
    max_batch = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    batches: list[pa.RecordBatch] = []
    buf: list = []

    def flush() -> None:
        rows = []
        for row in buf:
            verify(row)
            rows.append(schema.toInternal(row))
        buf.clear()
        n = len(rows)
        k = min(n, slices)
        if max_batch > 0:
            k = max(k, -(-n // max_batch))
        for i in range(k):
            cols = zip(*rows[i * n // k : (i + 1) * n // k])
            batches.append(
                pa.RecordBatch.from_arrays(
                    [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
                    schema=arrow_schema,
                )
            )

    for page in pages:
        buf.extend(page)
        if len(buf) >= chunk_rows:
            flush()
    flush()
    if not batches:
        # a zero-chunk column breaks createDataFrame for nested types
        batches.append(pa.RecordBatch.from_pylist([], schema=arrow_schema))
    table = pa.Table.from_batches(batches, schema=arrow_schema)
    return spark.createDataFrame(table, schema=schema)


# ---------------------------------------------------------------------------
# S7: per-key detail fan-out (the reference's ThreadPoolExecutor, distributed)
# ---------------------------------------------------------------------------


def fanout_fetch(
    keys_df: DataFrame,
    fetch_one: Callable[[Any], dict | None],
    result_schema,
    key_col: str = "id",
    parallelism: int = 10,
    rate_limit_interval: float = 0.0,
    retry: RetryPolicy | None = None,
    error_col: str | None = None,
):
    """Correlated per-key remote fetch as ``mapInPandas`` over the key frame.

    ``fetch_one(key) -> dict | None`` runs once per key inside each
    partition with retry + rate limiting; None (failed fetch) is dropped and
    surfaced in the ``_fetch_ok`` accounting column instead of aborting the
    job — the reference's error-isolation semantics
    (``dags/lex_office/lex_office_invoice_items.py:187-210``).

    The catch is deliberately broad (``fetch_one`` is arbitrary caller
    code over an arbitrary transport — transport failures cannot be
    enumerated here), which means a SYSTEMATIC bug (typo, bad auth)
    surfaces as every row ``_fetch_ok=false`` rather than a traceback.
    Pass ``error_col`` (e.g. ``"_fetch_err"``) to capture
    ``ExceptionType: message`` per failed key — the dead-letter frame
    then says WHY, and a monitoring check on distinct error strings
    separates "API flaked for 0.1% of keys" from "every key failed the
    same way". Off by default so declared result schemas stay stable.

    ``parallelism`` maps MAX_WORKERS: it is the repartition count of the key
    frame, i.e. the number of concurrent API streams cluster-wide. At 100 TB
    the keys frame itself is distributed — no driver materialization.
    """
    import pandas as pd
    from pyspark.sql import types as T

    retry = retry or RetryPolicy()
    field_names = [f.name for f in result_schema.fields if f.name != "_fetch_ok"]
    # failure rows carry NULLs in every non-key field, so the output schema
    # must be fully nullable regardless of the caller's declaration —
    # codegen NPEs on a null in a non-nullable slot otherwise
    out_fields = [
        T.StructField(f.name, f.dataType, True) for f in result_schema.fields
    ]
    if error_col is not None:
        out_fields.append(T.StructField(error_col, T.StringType(), True))
    out_schema = T.StructType(out_fields)
    out_cols = [f.name for f in out_fields]

    def run(batches):
        limiter = RateLimiter(min_interval=rate_limit_interval)
        for pdf in batches:
            out = []
            for key in pdf[key_col]:
                limiter.wait()
                err = None
                try:
                    detail = retry.call(lambda k=key: fetch_one(k))
                    if detail is not None and not isinstance(detail, dict):
                        # a truthy non-dict (list/string error envelope)
                        # must dead-letter like any other failure — built
                        # into the row it would crash the whole stage
                        raise TypeError(
                            f"fetch_one returned {type(detail).__name__}, "
                            "expected dict or None"
                        )
                except Exception as exc:  # noqa: BLE001 — see docstring
                    detail = None
                    err = f"{type(exc).__name__}: {exc}"[:500]
                row = {k: (detail or {}).get(k) for k in field_names}
                if row.get(key_col) is None:
                    row[key_col] = key  # failed fetches still identify their key
                row["_fetch_ok"] = detail is not None
                if error_col is not None:
                    row[error_col] = err
                out.append(row)
            yield pd.DataFrame(out, columns=out_cols)

    return (
        keys_df.repartition(parallelism)
        .mapInPandas(run, schema=out_schema)
    )
