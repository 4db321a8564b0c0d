"""The two benchmark workloads, driving the engine from outside.

Every engine call goes through a module attribute (``apply.apply_changes``,
``cdf.stream_sync_changes``, ...) so the traced run's wrappers see it.
Each workload has four steps:

- ``prepare``: fresh state for one set-up (base table load); repeated,
- ``warmup``: the first commits and drains, which pay JIT and
  Python-runner start,
- ``loop``: the closed measurement loop (one client, each step waits for
  the previous one) until the deadline,
- ``verify``: the correctness gates that need the final state.

Loops record samples in a ``Samples`` object; failed gates are counted
there too, so they show up in ``failed``/``attempted``.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from cdc_from_sql_and_nosql_to_data_warehouse_spark import fsio
from cdc_from_sql_and_nosql_to_data_warehouse_spark.functions import (
    dynamodb_json,
    silver,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.operators import (
    apply,
    fileset,
    incremental,
    maintenance,
    reconcile,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.sources import (
    change_feed,
    csv_source,
)
from cdc_from_sql_and_nosql_to_data_warehouse_spark.streaming import cdf


class Samples:
    """Latency samples and gate outcomes of one run."""

    def __init__(self):
        self.lat: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.counts: dict[str, float] = {}

    def add(self, name: str, seconds: float) -> None:
        self.lat.setdefault(name, []).append(seconds)

    def op(self) -> None:
        self.attempted += 1

    def check(self, ok: bool, what: str) -> None:
        """A correctness gate: counts as one attempted operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def bump(self, name: str, n: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + n


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _expected(spark, path: str, batch: int, cols: list[str]):
    """The generator's expected latest-wins state after ``batch``."""
    return (spark.read.parquet(path)
            .filter((F.col("from_batch") <= batch) & (F.col("to_batch") > batch))
            .select(*cols))


def _diff_count(tracer, expected, actual, key: str, cols: list[str]) -> tuple[bool, int]:
    """Counts + per-key checksums of ``actual`` against ``expected``."""
    with tracer.span("reconcile.reconcile_counts"):
        counts = reconcile.reconcile_counts(expected, actual)
    with tracer.span("reconcile.reconcile_checksums"):
        bad = reconcile.reconcile_checksums(expected, actual, key, cols).count()
    return counts.match, bad


# ---------------------------------------------------------------------------
# nosql_upsert
# ---------------------------------------------------------------------------
ORDER_SCHEMA = T.StructType([
    T.StructField("o_orderkey", T.LongType()),
    T.StructField("o_custkey", T.LongType()),
    T.StructField("o_orderstatus", T.StringType()),
    T.StructField("o_totalprice", T.DoubleType()),
    T.StructField("o_orderdate", T.StringType()),
    T.StructField("o_orderpriority", T.StringType()),
    T.StructField("o_version", T.LongType()),
])
ORDER_KEY_SCHEMA = T.StructType([T.StructField("o_orderkey", T.LongType())])
# wire-typed images stay JSON text here and are decoded by the engine
STREAM_RECORD = T.StructType([
    T.StructField("eventName", T.StringType()),
    T.StructField("dynamodb", T.StructType([
        T.StructField("Keys", T.StringType()),
        T.StructField("NewImage", T.StringType()),
        T.StructField("SequenceNumber", T.StringType()),
    ])),
])


class NosqlUpsert:
    name = "nosql_upsert"
    key = "o_orderkey"

    def __init__(self, root: str, sizes: dict):
        self.src = f"{root}/nosql"
        self.sizes = sizes
        self.reads = json.load(open(f"{self.src}/reads.json"))
        self.batch = 0

    def _changes(self, spark, b: int):
        raw = change_feed.guard_event_names(
            spark.read.schema(STREAM_RECORD).json(f"{self.src}/batches/{b:05d}.json"))
        op = F.when(F.col("_unknown_op"), F.raise_error(
            F.concat(F.lit("unexpected change-event op: "), F.col("eventName")))
        ).otherwise(F.col("eventName"))
        keys = dynamodb_json.decode_dynamodb_json("dynamodb.Keys", ORDER_KEY_SCHEMA)
        return raw.select(
            op.alias("op"),
            keys.getField(self.key).cast("string").alias("key"),
            dynamodb_json.decode_dynamodb_json(
                "dynamodb.NewImage", ORDER_SCHEMA).alias("after"),
            F.col("dynamodb.SequenceNumber").alias("seq"),
        )

    def prepare(self, spark, work: str) -> None:
        self.table = f"{work}/orders"
        base = spark.read.parquet(f"{self.src}/base.parquet")
        env = base.select(
            F.lit("INSERT").alias("op"),
            F.col(self.key).cast("string").alias("key"),
            F.struct(*[F.col(f.name) for f in ORDER_SCHEMA.fields]).alias("after"),
            F.lit("0").alias("seq"),
        )
        apply.apply_changes(spark, env, self.table, self.key, mode="upsert",
                            propagate_deletes=True)
        self.batch = 0

    def _tick(self, spark, tracer, samples: Samples | None) -> None:
        self.batch += 1
        b = self.batch
        changes = self._changes(spark, b)
        _, dt = _timed(lambda: apply.apply_changes(
            spark, changes, self.table, self.key, mode="upsert",
            propagate_deletes=True))
        if samples is None:
            return
        samples.op()
        samples.add("upsert_commit", dt)
        samples.bump("rows", self.sizes["batch_rows"])
        for i, (key, image) in enumerate(self.reads[b - 1]):
            def read():
                with tracer.span("apply.read_warehouse"):
                    return apply.read_warehouse(
                        spark, self.table, predicates=[(self.key, "=", key)]
                    ).collect()
            rows, read_dt = _timed(read)
            samples.add("point_read", read_dt)
            if i == 0:
                samples.add("upsert_visible", dt + read_dt)
            got = [r.asDict() for r in rows]
            samples.check(got == ([image] if image else []),
                          f"point read of key {key} after batch {b}: {got} != {image}")

    def warmup(self, spark, tracer, ticks: int) -> None:
        for _ in range(ticks):
            self._tick(spark, tracer, None)

    def loop(self, spark, tracer, samples: Samples, deadline: float) -> None:
        while time.perf_counter() < deadline and self.batch < self.sizes["batches"]:
            self._tick(spark, tracer, samples)

    def verify(self, spark, tracer, samples: Samples) -> None:
        cols = [f.name for f in ORDER_SCHEMA.fields]
        expected = _expected(spark, f"{self.src}/expected.parquet", self.batch, cols)
        actual = apply.read_warehouse(spark, self.table)
        match, bad = _diff_count(tracer, expected, actual, self.key, cols)
        samples.check(match and bad == 0,
                      f"final table after batch {self.batch}: {bad} keys differ")


# ---------------------------------------------------------------------------
# sql_append_replica
# ---------------------------------------------------------------------------
LINE_COLS = ["line_id", "l_orderkey", "l_suppkey", "l_quantity",
             "l_extendedprice", "l_shipdate", "l_returnflag"]


class SqlAppendReplica:
    name = "sql_append_replica"
    key = "line_id"

    def __init__(self, root: str, sizes: dict):
        self.src = f"{root}/sql"
        self.sizes = sizes
        self.batch = 0

    def _changes(self, spark, b: int):
        bronze = csv_source.read_csv_bronze(spark, f"{self.src}/batches/{b:05d}.csv")
        row = bronze.select(
            F.col("line_id").cast("long").alias("line_id"),
            F.col("order_key").cast("long").alias("l_orderkey"),
            F.col("supp_key").cast("long").alias("l_suppkey"),
            silver.parse_money("quantity").alias("l_quantity"),
            silver.parse_money("_extended_price_").alias("l_extendedprice"),
            silver.parse_fixture_date("ship_date").alias("l_shipdate"),
            F.col("return_flag").alias("l_returnflag"),
            F.col("op"),
            F.col("seq").cast("long").alias("seq"),
        )
        return row.select(
            "op",
            F.col("line_id").cast("string").alias("key"),
            F.struct(*LINE_COLS).alias("after"),
            "seq",
        )

    def prepare(self, spark, work: str) -> None:
        self.table = f"{work}/lines"
        self.replica = f"{work}/replica"
        self.view = f"{work}/by_supplier"
        self.ckpt = f"{work}/replica_ckpt"
        apply.apply_changes(spark, self._changes(spark, 0), self.table, self.key,
                            mode="history")
        self.batch = 0

    def _append(self, spark) -> float:
        self.batch += 1
        changes = self._changes(spark, self.batch)
        _, dt = _timed(lambda: apply.apply_changes(
            spark, changes, self.table, self.key, mode="history"))
        return dt

    def _sync(self, spark, tracer, samples: Samples | None) -> None:
        """Drain into the replica, refresh the view, reconcile."""
        cdf.stream_sync_changes(
            spark, self.table, self.replica, self.ckpt, self.key,
            plan_from_manifest=True).awaitTermination()
        incremental.sync_aggregate_minmax(
            spark, self.table, self.view, "l_suppkey", "l_extendedprice")
        expected = _expected(spark, f"{self.src}/expected.parquet", self.batch, LINE_COLS)
        match, bad = _diff_count(tracer, expected, apply.read_warehouse(spark, self.replica),
                                 self.key, LINE_COLS)
        if samples is not None:
            samples.check(match and bad == 0,
                          f"replica after batch {self.batch}: {bad} keys differ")

    def _cycle(self, spark, tracer, samples: Samples | None, appends: int) -> None:
        """``appends`` history appends, then sync and a maintenance tick."""
        start = time.perf_counter()
        for _ in range(appends):
            dt = self._append(spark)
            if samples is not None:
                samples.op()
                samples.add("append_commit", dt)
                samples.bump("rows", self.sizes["batch_rows"])
        self._sync(spark, tracer, samples)
        if samples is not None:
            samples.add("freshness", time.perf_counter() - start)
        report = maintenance.run_maintenance(spark, self.table)
        if samples is not None:
            samples.op()
            samples.bump("log_batches_pruned", report.log_batches_pruned)
            samples.bump("versions_retained", report.versions_retained)
            samples.bump("uncommitted_removed", report.uncommitted_removed)

    def warmup(self, spark, tracer, cycles: int) -> None:
        for _ in range(cycles):
            self._cycle(spark, tracer, None, self.sizes["warmup_appends"])

    def loop(self, spark, tracer, samples: Samples, deadline: float) -> None:
        # whole cycles only, so rows per second always carries its syncs
        every = self.sizes["sync_every"]
        while (time.perf_counter() < deadline
               and self.batch + every <= self.sizes["batches"]):
            self._cycle(spark, tracer, samples, every)

    def verify(self, spark, tracer, samples: Samples) -> None:
        expected = _expected(spark, f"{self.src}/expected.parquet", self.batch, LINE_COLS)
        recompute = {
            r["l_suppkey"]: tuple(r)[1:] for r in expected.groupBy("l_suppkey").agg(
                F.count("*"), F.sum("l_extendedprice"),
                F.min("l_extendedprice"), F.max("l_extendedprice")).collect()
        }
        view = {
            r["l_suppkey"]: (r["n_keys"], r["total_value"], r["min_value"], r["max_value"])
            for r in apply.read_warehouse(spark, self.view).collect()
        }
        samples.check(view == recompute,
                      f"view after batch {self.batch} differs from a full recompute")


WORKLOADS = {w.name: w for w in (NosqlUpsert, SqlAppendReplica)}

# the fsio primitives the workloads reach (rename_dir is not on
# their paths, and a wrapper that never fires would read as zero)
FSIO_OPS = ("makedirs", "create_exclusive", "atomic_write_text", "read_text",
            "remove", "move", "listdir", "remove_tree", "publish_exclusive",
            "isdir", "mtime")

# the engine's public entry points the traced run wraps, by module
# attribute: (module, attribute, span name, span kind). apply and
# fileset reach fsio and fileset through these same attributes.
WRAPPED = [
    (apply, "apply_changes", "apply.apply_changes", "jobs"),
    # the streaming sink calls apply_changes through its own binding
    (cdf, "apply_changes", "apply.apply_changes", "jobs"),
    (apply, "read_warehouse", "apply.read_warehouse.calls", "count"),
    (cdf, "stream_sync_changes", "cdf.stream_sync_changes", "stream"),
    (incremental, "sync_aggregate_minmax", "incremental.sync_aggregate_minmax", "jobs"),
    (maintenance, "run_maintenance", "maintenance.run_maintenance", "jobs"),
    (reconcile, "reconcile_counts", "reconcile.reconcile_counts.calls", "count"),
    (reconcile, "reconcile_checksums", "reconcile.reconcile_checksums.calls", "count"),
    (csv_source, "read_csv_bronze", "csv_source.read_csv_bronze", "count"),
    (dynamodb_json, "decode_dynamodb_json", "dynamodb_json.decode_dynamodb_json", "count"),
    (change_feed, "guard_event_names", "change_feed.guard_event_names", "count"),
    (fileset, "append_batch", "fileset.append_batch", "light"),
    (fileset, "prune_log", "fileset.prune_log", "light"),
    *[(fsio, op, f"fsio.{op}", "light") for op in FSIO_OPS],
]
