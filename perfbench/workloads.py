"""The benchmark's workloads.

Each workload is a single-client closed loop: the next op starts when the
previous one has returned. ``prepare`` makes an op's input and ``check``
verifies its output, both outside the timed interval; ``run`` is the timed
op and calls the program exactly as a user would. ``traced`` runs the same op
as a composition of the layers' public functions, each inside a span, and
``layers`` turns one traced op's spans into per-layer metrics.

Why these workloads (perfbench/README.md maps layer metrics to end-to-end ones):

- ``upload``: the reference's flagship, single-file CSV uploads into one
  growing store. csv_intake, validate and store do nearly all the work.
  BENCHMARK.json does not list it while ``run_upload`` miscounts uploads
  into a non-empty store (perfbench/README.md); it still runs by name.
- ``drain``: the same validate and store layers as many small per-batch
  commits, plus trigger phases and state stores, which nothing else touches.
- ``query``: JVM-only relational plans where fixed per-job scheduling cost
  is a large share; no CSV, no text kernels, no state stores, so
  optimisations of those should predict no change here.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import intake_gen, oracle, star
from perfbench.trace import Tracer, self_times

# Registry key -> the module whose function the key calls; it names the
# key's per-layer metrics, ``<module>.<key>_s`` and ``<module>.<key>.jobs``.
KEY_MODULE = {
    "pricing_summary": "plans.analytics",
    "top_revenue": "plans.analytics",
    "region_sales": "plans.analytics",
    "rollup_sales": "registry",
    "rank_orders": "registry",
    "error_counts": "operators.aggregates",
    "upload_summary": "operators.aggregates",
    "stream_interval_join_spread_outer": "streaming.joins_stream",
}
REJECT_SLUG = {
    intake_gen.ERR_TOO_FEW: "too_few_columns",
    intake_gen.ERR_ID_EMPTY: "externalId_empty",
    intake_gen.ERR_NAME_EMPTY: "name_empty",
    intake_gen.ERR_DUP: "duplicate_externalId",
    intake_gen.ERR_QTY: "quantity_invalid",
    intake_gen.ERR_DATE: "expiryDate_invalid",
}


@dataclass
class Checked:
    rows: int
    ok: bool
    detail: str = ""


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    cores: int
    rng: np.random.Generator = field(init=False)

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed)


def _parquet_files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "*.parquet")))


def items_rows(store) -> int:
    """Row count of the store's items table, from the parquet footers."""
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _parquet_files(store.path("items")))


class Workload:
    name = ""
    # The first op pays one-time costs (class loading, code generation,
    # session-level staging) and the JIT is still compiling during the
    # second; the timed ops start after both.
    WARMUP_OPS = 2

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark

    def setup(self) -> None:
        """Make the run's fixed inputs; the caller then runs WARMUP_OPS ops."""

    def prepare(self, i: int):
        return i

    def run(self, prep):
        raise NotImplementedError

    def check(self, prep, out) -> Checked:
        raise NotImplementedError

    def traced(self, prep, tracer: Tracer):
        raise NotImplementedError

    def layers(self, tracer: Tracer, op_id: int, out) -> dict[str, float]:
        raise NotImplementedError


# --- upload -------------------------------------------------------------------


@dataclass
class UploadInput:
    path: str
    planted: intake_gen.Planted
    items_before: int


class Upload(Workload):
    """Single-file CSV uploads through ``plans.ingest.run_upload`` into one store.

    Each file plants a share of ids the store already holds and rows of all
    six reject categories. The first warm-up upload goes into the empty
    store; the second takes the non-empty-store path the timed uploads take.
    """

    name = "upload"
    ROWS = 150_000

    def setup(self):
        from streamforge_data_pipeline_spark.sources.store import TableStore

        self.store = TableStore(os.path.join(self.ctx.work, "store"))
        self.fresh = intake_gen.ID_BASE
        self.pool = np.empty(0, dtype=np.int64)

    def prepare(self, i):
        path = os.path.join(self.ctx.work, f"upload_{i}.csv")
        planted = intake_gen.write_intake_csv(path, self.ctx.rng, self.ROWS, self.fresh, self.pool)
        self.fresh = planted.next_fresh_id
        return UploadInput(path, planted, items_rows(self.store))

    def run(self, prep):
        from streamforge_data_pipeline_spark.plans.ingest import run_upload

        return run_upload(self.spark, prep.path, self.store)

    def check(self, prep, res):
        grown = items_rows(self.store) - prep.items_before
        p = prep.planted
        self.pool = np.concatenate([self.pool, p.inserted_ids])
        os.remove(prep.path)
        ok = p.matches(res) and grown == p.inserted
        detail = "" if ok else (
            f"planted rows={p.rows} inserted={p.inserted} errors={p.error_counts}; "
            f"got processed={res.processed} inserted={res.inserted} "
            f"errors={dict(res.error_counts)}; items grew by {grown}"
        )
        return Checked(p.rows, ok, detail)

    def traced(self, prep, tr):
        """``run_upload`` composed from its layers, as ``plans/ingest.py`` does it.

        Each layer's output is persisted and forced inside its span, so a
        span covers that layer's work and not its inputs' recomputation.
        """
        from streamforge_data_pipeline_spark.operators.validate import (
            split_valid, to_items, validate,
        )
        from streamforge_data_pipeline_spark.plans.ingest import UploadResult
        from streamforge_data_pipeline_spark.sources.csv_intake import (
            intake_order, read_intake_csv,
        )

        spark = self.spark
        key = "spark.sql.files.maxPartitionBytes"
        with tr.span("plans.ingest.run_upload"):
            old = spark.conf.get(key)
            # run_upload's split-size rule: about one scan task per core,
            # at least 4 MB, at most the session value (bytes here).
            size = os.path.getsize(prep.path)
            p = spark.sparkContext.defaultParallelism
            spark.conf.set(key, str(max(4 << 20, min(int(old.rstrip("b")), size // p))))
            try:
                with tr.span("sources.csv_intake.read_intake_csv") as s:
                    raw = read_intake_csv(spark, prep.path).persist()
                    s.counts["rows"] = raw.count()
                with tr.span("sources.store.existing_ids") as s:
                    existing = self.store.existing_ids_or_empty(spark).persist()
                    s.counts["existing_ids"] = existing.count()
                with tr.span("operators.validate.validate"):
                    validated = validate(raw, existing, intake_order()).cache()
                    validated.write.format("noop").mode("overwrite").save()
                before = _parquet_files(self.store.path("items"))
                with tr.span("sources.store.insert_items") as s:
                    valid, _rejected = split_valid(validated)
                    self.store.insert_items(to_items(valid))
                new = sorted(set(_parquet_files(self.store.path("items"))) - set(before))
                s.counts["files_written"] = len(new)
                s.counts["bytes_written"] = sum(os.path.getsize(f) for f in new)
                with tr.span("plans.ingest.error_counts"):
                    by_error = {
                        r["error"]: r["cnt"]
                        for r in validated.groupBy("error").agg(F.count(F.lit(1)).alias("cnt")).collect()
                    }
                for df in (validated, existing, raw):
                    df.unpersist()
            finally:
                spark.conf.set(key, old)
        inserted = by_error.pop(None, 0)
        failed = sum(by_error.values())
        return UploadResult("traced", inserted + failed, inserted, failed, by_error)

    def layers(self, tr, op_id, res):
        out, per_span = tr.spark_totals(op_id, self.ctx.cores)
        spans = {s.name: s for s in tr.op_spans(op_id)}
        self_s = self_times(list(spans.values()))
        root = spans["plans.ingest.run_upload"]
        scan = spans["sources.csv_intake.read_intake_csv"]
        val = spans["operators.validate.validate"]
        ins = spans["sources.store.insert_items"]
        out.update({
            "plans.ingest.run_upload_s": root.seconds,
            "plans.ingest.self_s": self_s[root.span_id],
            "plans.ingest.jobs": out["spark.jobs"],
            "plans.ingest.error_counts_s": spans["plans.ingest.error_counts"].seconds,
            "sources.csv_intake.scan_s": scan.seconds,
            "sources.csv_intake.scan_tasks": per_span[scan.span_id]["tasks"],
            "sources.csv_intake.rows": scan.counts["rows"],
            "operators.validate.self_s": self_s[val.span_id],
            "operators.validate.shuffle_write_mb": per_span[val.span_id]["shuffle_write_mb"],
            "operators.validate.existing_ids": spans["sources.store.existing_ids"].counts["existing_ids"],
            "sources.store.existing_ids_s": spans["sources.store.existing_ids"].seconds,
            "sources.store.insert_s": ins.seconds,
            "sources.store.bytes_written": ins.counts["bytes_written"],
            "sources.store.files_written": ins.counts["files_written"],
        })
        for label, slug in REJECT_SLUG.items():
            out[f"operators.validate.rejected.{slug}"] = res.error_counts.get(label, 0)
        return out


# --- drain --------------------------------------------------------------------


@dataclass
class DrainInput:
    root: str
    inserted: int


@contextmanager
def batch_layer_spans(tr: Tracer):
    """Open spans around the layer calls ``start_stream_ingest`` makes per
    micro-batch, while the block runs.

    The calls are replaced by wrappers for the length of the block. Each
    wrapper persists its layer's output and forces it inside its span, so a
    span covers that layer's work; the batch's input (persisted by the
    caller) is forced first, in a span of its own. The callbacks run on
    another thread while the benchmark's thread waits for the query, so
    their spans nest under the span open there.
    """
    from streamforge_data_pipeline_spark.sources.store import TableStore
    from streamforge_data_pipeline_spark.streaming import ingest_stream

    validate = ingest_stream.validate
    existing_ids = TableStore.existing_ids_or_empty
    insert_items = TableStore.insert_items
    held = []

    def traced_existing_ids(store, spark, *args, **kwargs):
        with tr.span("sources.store.existing_ids") as s:
            df = existing_ids(store, spark, *args, **kwargs).persist()
            held.append(df)
            s.counts["existing_ids"] = df.count()
        return df

    def traced_validate(raw, existing, order):
        with tr.span("streaming.ingest_stream.batch_scan") as s:
            s.counts["rows"] = raw.count()
        with tr.span("operators.validate.validate") as s:
            df = validate(raw, existing, order).persist()
            held.append(df)
            for r in df.groupBy("error").agg(F.count(F.lit(1)).alias("cnt")).collect():
                s.counts[r["error"] or "valid"] = r["cnt"]
        return df

    def traced_insert_items(store, typed, *args, **kwargs):
        with tr.span("sources.store.insert_items"):
            insert_items(store, typed, *args, **kwargs)
        while held:
            held.pop().unpersist()

    ingest_stream.validate = traced_validate
    TableStore.existing_ids_or_empty = traced_existing_ids
    TableStore.insert_items = traced_insert_items
    try:
        yield
    finally:
        ingest_stream.validate = validate
        TableStore.existing_ids_or_empty = existing_ids
        TableStore.insert_items = insert_items


class Drain(Workload):
    """One op drains two streams, each from a fresh checkpoint:

    - ``start_stream_ingest`` (availableNow) over a directory of small intake
      CSVs, committed per micro-batch into a fresh store;
    - the state-store drain ``stream_interval_join_spread_outer``.

    The traced op also opens spans around each batch's scan, existing-id
    read, validation and insert (``batch_layer_spans``). The stream reads
    with the fixed 4-column intake schema, so a 3-cell short row reaches
    validation with an empty date and counts as ``expiryDate invalid``, not
    ``too few columns`` as in an upload; the rejects are not part of the
    stream's output, so the check does not compare them.
    """

    name = "drain"
    FILES = 16  # start_stream_ingest takes 8 files per trigger: 2 micro-batches
    ROWS_PER_FILE = 8_000
    STAR_SF = 0.01
    KEY = "stream_interval_join_spread_outer"

    def setup(self):
        from streamforge_data_pipeline_spark.registry import REGISTRY

        self.star_dir = os.path.join(self.ctx.work, "star")
        star.write_tables(self.spark, self.star_dir, self.ctx.seed, self.STAR_SF, ["events"])
        self.expected = oracle.oracle_digests(self.star_dir, {self.KEY: REGISTRY[self.KEY].oracle})[self.KEY]

    def prepare(self, i):
        root = os.path.join(self.ctx.work, f"drain_{i}")
        src = os.path.join(root, "in")
        os.makedirs(src)
        fresh, pool, inserted = intake_gen.ID_BASE, np.empty(0, dtype=np.int64), 0
        for f in range(self.FILES):
            path = os.path.join(src, f"part-{f:03d}.csv")
            planted = intake_gen.write_intake_csv(path, self.ctx.rng, self.ROWS_PER_FILE, fresh, pool)
            # The file source orders files by modification time.
            os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
            fresh, inserted = planted.next_fresh_id, inserted + planted.inserted
            pool = np.concatenate([pool, planted.inserted_ids])
        return DrainInput(root, inserted)

    def _store(self, prep):
        from streamforge_data_pipeline_spark.sources.store import TableStore

        return TableStore(os.path.join(prep.root, "store"))

    def _ingest(self, prep):
        from streamforge_data_pipeline_spark.streaming.ingest_stream import (
            finish, start_stream_ingest,
        )
        from streamforge_data_pipeline_spark.streaming.status import StatusStore

        status, job = StatusStore(), str(uuid.uuid4())
        q = start_stream_ingest(
            self.spark, os.path.join(prep.root, "in"), self._store(prep),
            os.path.join(prep.root, "ckpt"), job, status,
        )
        finish(q, status, job)

    def _join(self):
        from streamforge_data_pipeline_spark.registry import REGISTRY

        return oracle.spark_digest(REGISTRY[self.KEY].fn(self.spark, self.star_dir))

    def run(self, prep):
        self._ingest(prep)
        return self._join()

    def check(self, prep, out):
        grown = items_rows(self._store(prep))
        shutil.rmtree(prep.root, ignore_errors=True)
        ok = grown == prep.inserted and out == self.expected
        detail = "" if ok else (
            f"items grew by {grown}, planted {prep.inserted}; "
            f"{self.KEY} digest {out}, oracle {self.expected}"
        )
        return Checked(self.FILES * self.ROWS_PER_FILE, ok, detail)

    def traced(self, prep, tr):
        with tr.span("streaming.drain"):
            with tr.span("streaming.ingest_stream.start_stream_ingest") as s, batch_layer_spans(tr):
                self._ingest(prep)
            items = _parquet_files(self._store(prep).path("items"))
            s.counts["files_written"] = len(items)
            s.counts["bytes_written"] = sum(os.path.getsize(f) for f in items)
            with tr.span(f"{KEY_MODULE[self.KEY]}.{self.KEY}"):
                return self._join()

    def layers(self, tr, op_id, out):
        tr.listener.wait_terminated()
        res, per_span = tr.spark_totals(op_id, self.ctx.cores)
        spans = tr.op_spans(op_id)
        ids = {s.span_id for s in spans}
        lst = tr.listener
        with lst.lock:
            progress = [p for run, ps in lst.progress.items() if lst.started.get(run) in ids for p in ps]
        batches = [p for p in progress if p.get("numInputRows", 0) > 0 or p["durationMs"].get("addBatch")]
        dur = lambda k: sum(p["durationMs"].get(k, 0) for p in batches) / 1e3  # noqa: E731
        state = [so for p in batches for so in p.get("stateOperators", [])]
        res.update({
            "streaming.batches": len(batches),
            "streaming.trigger_p50_s": statistics.median(
                [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in batches]) if batches else 0.0,
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.state_rows": sum(so.get("numRowsTotal", 0) for so in state),
            "streaming.state_commit_s": sum(so.get("commitTimeMs", 0) for so in state) / 1e3,
            "streaming.state_partitions": max([so.get("numShufflePartitions", 0) for so in state] or [0]),
        })
        by_name = {s.name: s for s in spans}
        ingest = by_name["streaming.ingest_stream.start_stream_ingest"]
        res["streaming.ingest_stream.start_stream_ingest_s"] = ingest.seconds
        res["sources.store.files_written"] = ingest.counts["files_written"]
        res["sources.store.bytes_written"] = ingest.counts["bytes_written"]
        # The per-batch spans run their jobs under job groups of their own.
        res["streaming.ingest_stream.start_stream_ingest.jobs"] = sum(
            per_span[s.span_id]["jobs"] for s in spans if ingest.span_id in (s.span_id, s.parent))
        batch = lambda name: [s for s in spans if s.name == name]  # noqa: E731
        val = batch("operators.validate.validate")
        ex = batch("sources.store.existing_ids")
        self_s = self_times(spans)
        res.update({
            "streaming.batch_scan_s": sum(s.seconds for s in batch("streaming.ingest_stream.batch_scan")),
            "operators.validate.self_s": sum(self_s[s.span_id] for s in val),
            "operators.validate.shuffle_write_mb": sum(per_span[s.span_id]["shuffle_write_mb"] for s in val),
            "operators.validate.existing_ids": sum(s.counts["existing_ids"] for s in ex),
            "sources.store.existing_ids_s": sum(s.seconds for s in ex),
            "sources.store.insert_s": sum(s.seconds for s in batch("sources.store.insert_items")),
        })
        for label, slug in REJECT_SLUG.items():
            res[f"operators.validate.rejected.{slug}"] = sum(s.counts.get(label, 0) for s in val)
        join = by_name[f"{KEY_MODULE[self.KEY]}.{self.KEY}"]
        res[f"{join.name}_s"] = join.seconds
        res[f"{join.name}.jobs"] = per_span[join.span_id]["jobs"]
        return res


# --- query --------------------------------------------------------------------


class Query(Workload):
    """One op is one pass over relational registry keys on seeded star tables
    at a small scale factor, where per-job cost dominates. Each key's result
    is collected and compared with its DuckDB oracle."""

    name = "query"
    KEYS = ("pricing_summary", "top_revenue", "region_sales", "rollup_sales",
            "rank_orders", "error_counts", "upload_summary")
    SF = 0.02
    TABLES = ("region", "nation", "customer", "orders", "lineitem", "events")

    def setup(self):
        from streamforge_data_pipeline_spark.registry import REGISTRY

        self.data = os.path.join(self.ctx.work, "star")
        star.write_tables(self.spark, self.data, self.ctx.seed, self.SF, list(self.TABLES))
        self.expected = oracle.oracle_digests(self.data, {k: REGISTRY[k].oracle for k in self.KEYS})
        self.rows = sum(
            pq.ParquetFile(os.path.join(self.data, f"{t}.parquet")).metadata.num_rows
            for t in self.TABLES
        )

    def _key(self, key):
        from streamforge_data_pipeline_spark.registry import REGISTRY

        return oracle.spark_digest(REGISTRY[key].fn(self.spark, self.data))

    def run(self, prep):
        return {k: self._key(k) for k in self.KEYS}

    def check(self, prep, out):
        bad = [k for k in self.KEYS if out[k] != self.expected[k]]
        return Checked(self.rows, not bad, f"oracle mismatch: {bad}" if bad else "")

    def traced(self, prep, tr):
        out = {}
        with tr.span("query.pass"):
            for k in self.KEYS:
                with tr.span(f"{KEY_MODULE[k]}.{k}"):
                    out[k] = self._key(k)
        return out

    def layers(self, tr, op_id, out):
        res, per_span = tr.spark_totals(op_id, self.ctx.cores)
        for s in tr.op_spans(op_id):
            if s.parent is not None:
                res[f"{s.name}_s"] = s.seconds
                res[f"{s.name}.jobs"] = per_span[s.span_id]["jobs"]
        return res


WORKLOADS = {w.name: w for w in (Upload, Drain, Query)}
