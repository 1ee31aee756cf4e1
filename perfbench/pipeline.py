"""The bundle-pipeline workloads: one client, a closed loop of
``HauserService.process_next`` calls against a generated export API.

Each run builds the service on fresh storage and warehouse directories,
processes ``warmup`` bundles untimed, then times bundles back to back
until the measured time reaches ``--seconds``. Correctness is checked
afterwards against the generated inputs, outside every timed region.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import resource
import statistics
import time
from dataclasses import dataclass

import numpy as np

import fsgen
from hostprobe import host_probe
from spans import Tracer, TracedProxy

UTC = dt.timezone.utc
HOUR = dt.timedelta(hours=1)
SETUP_REPEATS = 3
SAMPLE_WINDOWS = 3
SAMPLE_PER_WINDOW = 15
# driver_rss_mb is read after this many timed bundles: the engine keeps
# every decoded bundle, so a later reading would grow with speed
RSS_AFTER_TIMED = 3


@dataclass(frozen=True)
class Shape:
    records: tuple[int, int]  # inclusive record-count range per bundle
    partitioned: bool  # day-partitioned warehouse layout
    start: dt.datetime  # first bundle window start
    windows: int  # generated windows; a run never needs more
    warmup: int  # untimed bundles before the timed window


WORKLOADS = {
    "pipeline_dense_rowgrain": Shape(
        records=(5_950, 6_050), partitioned=False,
        start=dt.datetime(2024, 3, 1, tzinfo=UTC), windows=20, warmup=2,
    ),
    # starts at 21:00 so every run crosses midnight early: first-of-day
    # partition overwrites mix with appends
    "pipeline_sparse_partitioned": Shape(
        records=(19, 21), partitioned=True,
        start=dt.datetime(2024, 3, 1, 21, tzinfo=UTC), windows=24 * 8, warmup=3,
    ),
}


def _clean_string(s: str) -> str:
    """The sink's scalar cleaning: CR/LF become spaces, NUL is dropped."""
    return s.replace("\n", " ").replace("\r", " ").replace("\x00", "")


def _go_json(value) -> str:
    text = json.dumps(value, ensure_ascii=False)
    return text.replace("<", "\\u003c").replace(">", "\\u003e").replace("&", "\\u0026")


def expected_row(record: dict, schema) -> dict:
    """What the export table must hold for one generated record."""
    from hauser_spark.schema import FLOAT64, INT32, INT64, TIME

    row = {}
    for f in schema:
        if f.db_name == "CustomVars":
            custom = sorted(k for k in record if k.startswith(("user_", "evt_", "page_")))
            row[f.db_name] = "{" + ",".join(
                f"{_go_json(k)}:{_go_json(record[k])}" for k in custom) + "}"
            continue
        v = record.get(f.fs_field_name)
        if v is None:
            row[f.db_name] = None
        elif f.field_type in (INT64, INT32):
            row[f.db_name] = int(v)
        elif f.field_type == FLOAT64:
            row[f.db_name] = float(v)
        elif f.field_type == TIME:
            row[f.db_name] = dt.datetime.strptime(v, "%Y-%m-%dT%H:%M:%S.%fZ")
        else:
            row[f.db_name] = _clean_string(v)
    return row


class PipelineRun:
    def __init__(self, name: str, seed: int, seconds: float, trace: bool):
        self.name = name
        self.shape = WORKLOADS[name]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tracer: Tracer | None = None
        self.notes: list[str] = []

    # -- inputs ----------------------------------------------------------

    def make_inputs(self, inputs_root: str) -> float:
        t0 = time.perf_counter()
        self.in_dir = os.path.join(inputs_root, f"{self.name}-s{self.seed}")
        self.manifest = fsgen.generate_windows(
            self.in_dir, self.seed, self.shape.start, HOUR,
            self.shape.windows, self.shape.records)
        self.counts = {w["start"]: w["records"] for w in self.manifest["windows"]}
        return time.perf_counter() - t0

    # -- set-up ----------------------------------------------------------

    def _build_service(self, spark, run_dir: str):
        from hauser_spark.config import Config
        from hauser_spark.service import HauserService, make_database
        from hauser_spark.sinks.storage import LocalStorage
        from hauser_spark.sources.rest_client import HttpExportTransport, RestExportClient

        shape = self.shape
        config = Config(start_time=shape.start, tmp_dir=os.path.join(run_dir, "tmp"),
                        partitioned_export=shape.partitioned).validate(now=shape.start)
        api = fsgen.FakeExportApi(self.in_dir, self.manifest)
        client = RestExportClient(
            spark, HttpExportTransport(fsgen.API_URL, "bench-token", opener=api))
        storage = LocalStorage(os.path.join(run_dir, "storage"))
        database = make_database(spark, config, os.path.join(run_dir, "warehouse"))
        if self.tracer is not None:
            client = TracedProxy(client, self.tracer, "sources",
                                 ("create_export", "get_export"))
            storage = TracedProxy(storage, self.tracer, "storage",
                                  ("save_file", "delete_file"))
            database = TracedProxy(database, self.tracer, "warehouse",
                                   ("last_sync_point", "load_to_warehouse",
                                    "save_sync_point"))
        # every window is mature: "now" is two days past the last window,
        # beyond the default 24 h export delay
        now = shape.start + shape.windows * HOUR + dt.timedelta(days=2)
        service = HauserService(spark, config, client, storage, database,
                                get_now=lambda: now)
        service.init()
        return service

    def _install_function_spans(self) -> None:
        """Trace the two functions ``service.py`` imports by name."""
        import hauser_spark.service as service_mod

        tracer = self.tracer
        write_csv = service_mod.write_bundle_csv_exact

        def traced_write(df, path, header):
            count = tracer.call("csv_writer.write_bundle_csv_exact", write_csv, df, path, header)
            if tracer.enabled and count:
                tracer.spans[-1].extra["bytes_per_row"] = os.path.getsize(path) / count
            return count

        service_mod.write_bundle_csv_exact = traced_write
        service_mod.build_parity_projection = tracer.wrap(
            "transform.build_parity_projection", service_mod.build_parity_projection)

    # -- the run ---------------------------------------------------------

    def run(self, spark, run_dir: str, session_s: float) -> dict:
        self.tracer = Tracer(spark.sparkContext) if self.trace else None
        if self.tracer is not None:
            self._install_function_spans()
        init_s = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            service = self._build_service(spark, os.path.join(run_dir, f"pipeline{i}"))
            init_s.append(time.perf_counter() - t0)
        self.database = service.database
        self.schema = service.schema
        setup_s = session_s + statistics.median(init_s)
        self.notes.append(f"setup: session {session_s:.3f} s, service init "
                          + ", ".join(f"{s:.3f}" for s in init_s) + " s")

        probe_before = host_probe(spark)
        self.ops: list[dict] = []
        t0 = time.perf_counter()
        for _ in range(self.shape.warmup):
            self._op(service)
        cold_s = time.perf_counter() - t0

        timed: list[dict] = []
        while sum(o["s"] for o in timed) < self.seconds:
            if len(self.ops) >= self.shape.windows:
                self.notes.append("inputs exhausted before the timed window ended")
                break
            if self.tracer is not None:
                self.tracer.enabled = len(timed) % 2 == 0
                self.tracer.op = len(self.ops)
            timed.append(self._op(service))
            if len(timed) == RSS_AFTER_TIMED:
                rss_mb = _peak_rss_mb()
        if self.tracer is not None:
            self.tracer.enabled = False
        if len(timed) < RSS_AFTER_TIMED:
            rss_mb = _peak_rss_mb()
        probe_after = host_probe(spark)
        self.notes.append(f"host probe before: {probe_before}")
        self.notes.append(f"host probe after: {probe_after}")

        failed_ops = {i for i, o in enumerate(self.ops) if o["error"]}
        failed_ops |= self.check()
        ok_timed = [o for o in timed if not o["error"]]
        busy = sum(o["s"] for o in timed)
        lat = [o["s"] * 1000 for o in ok_timed]
        self.notes.append(f"timed bundles: {len(timed)} in {busy:.3f} s; "
                          f"op_ms_p50 over {len(lat)} samples")
        self.notes.append("latencies ms: warm-up "
                          + " ".join(f"{o['s'] * 1000:.0f}" for o in self.ops[:self.shape.warmup])
                          + " | timed " + " ".join(f"{o['s'] * 1000:.0f}" for o in timed))
        metrics = {
            "setup_s": (setup_s, "s"),
            "cold_s": (cold_s, "s"),
            "ops_per_s": (len(ok_timed) / busy if busy else 0.0, "1/s"),
            "op_ms_p50": (statistics.median(lat) if lat else 0.0, "ms"),
            "rows_per_s": (sum(o["rows"] for o in ok_timed) / busy if busy else 0.0, "1/s"),
            "driver_rss_mb": (rss_mb, "MB"),
        }
        if self.tracer is not None:
            metrics = self.layer_metrics(timed)
        return {"attempted": len(self.ops), "failed": len(failed_ops),
                "correct": not failed_ops, "metrics": metrics}

    def _op(self, service) -> dict:
        t0 = time.perf_counter()
        op = {"s": 0.0, "rows": 0, "error": None, "window": None}
        try:
            if self.tracer is not None:
                result = self.tracer.call("service.process_next", service.process_next)
            else:
                result = service.process_next()
            if not result.processed:
                raise RuntimeError(f"bundle not processed, wait {result.wait}")
            op["rows"] = result.record_count
            op["window"] = int(result.bundle_start.timestamp())
        except Exception as e:  # a failed operation is counted, the loop goes on
            op["error"] = f"{type(e).__name__}: {e}"
            self.notes.append(f"op {len(self.ops)} failed: {op['error'][:300]}")
        op["s"] = time.perf_counter() - t0
        self.ops.append(op)
        return op

    # -- correctness -----------------------------------------------------

    def check(self) -> set[int]:
        """Indices of operations whose bundle is not in the export table
        exactly as generated."""
        from pyspark.sql import functions as F

        from hauser_spark.sinks.warehouse import PARTITION_COL

        done = {o["window"]: i for i, o in enumerate(self.ops) if o["window"] is not None}
        failed: set[int] = set()

        def fail(window: int, why: str) -> None:
            failed.add(done.get(window, len(self.ops) - 1))
            if len(self.notes) < 60:
                self.notes.append(f"check failed for window {window}: {why}")

        last_end = self.shape.start + HOUR * len(done)
        mark = self.database.last_sync_point(repair=False)
        if mark != last_end:
            fail(max(done, default=0), f"watermark {mark} != {last_end}")

        if self.shape.partitioned:
            table = self.database.export_df(include_partition_col=True)
            misrouted = table.filter(F.col(PARTITION_COL) != F.to_date("EventStart"))
        else:
            table = self.database.export_df()
            misrouted = None
        seq = F.get_json_object("CustomVars", "$.evt_seq_int")
        window = F.unix_timestamp(F.date_trunc("hour", "EventStart"))
        per_window = {
            r["w"]: (r["n"], r["seqs"])
            for r in table.groupBy(window.alias("w"))
            .agg(F.count("*").alias("n"), F.countDistinct(seq).alias("seqs"))
            .collect()
        }
        for w in set(per_window) | set(done):
            n, seqs = per_window.get(w, (0, 0))
            expected = self.counts.get(w, 0) if w in done else 0
            if n != expected or seqs != n:
                fail(w, f"{n} rows, {seqs} distinct evt_seq, {expected} generated")
        if misrouted is not None:
            for r in misrouted.select(window.alias("w")).distinct().collect():
                fail(r["w"], "row in the wrong day partition")

        # field-by-field comparison of a seeded sample of records
        rng = np.random.default_rng([self.seed, 7])
        windows = sorted(done)
        picks = sorted({windows[0], windows[-1],
                        *rng.choice(windows, size=min(SAMPLE_WINDOWS, len(windows)))
                        .tolist()}) if windows else []
        expected: dict[str, tuple[int, dict]] = {}
        for w in picks:
            records = fsgen.read_window(self.in_dir, w)
            for i in rng.choice(len(records), size=min(SAMPLE_PER_WINDOW, len(records)),
                                replace=False).tolist():
                rec = records[i]
                expected[str(rec["evt_seq_int"])] = (w, expected_row(rec, self.schema))
        got = {
            r["seq"]: r.asDict()
            for r in table.filter(seq.isin(list(expected)))
            .withColumn("seq", seq).collect()
        }
        for key, (w, want) in expected.items():
            row = got.get(key)
            if row is None:
                fail(w, f"evt_seq {key} missing")
                continue
            bad = [c for c, v in want.items() if row.get(c) != v]
            if bad:
                fail(w, f"evt_seq {key} differs in {bad[:5]}: "
                        f"{[(row.get(c), want[c]) for c in bad[:2]]}")
        return failed

    # -- per-layer metrics ----------------------------------------------

    def layer_metrics(self, timed: list[dict]) -> dict:
        spans = self.tracer.spans
        ops = sorted({s.op for s in spans})

        def per_op(name: str, attr: str = "ms") -> float:
            vals = [sum(getattr(s, attr) for s in spans if s.op == op and s.name == name)
                    for op in ops]
            return statistics.median(vals) if vals else 0.0

        out = {}
        for layer in ("sources.get_export", "sources.create_export",
                      "transform.build_parity_projection",
                      "csv_writer.write_bundle_csv_exact", "storage.save_file",
                      "storage.delete_file", "warehouse.last_sync_point",
                      "warehouse.load_to_warehouse", "warehouse.save_sync_point"):
            out[f"{layer}.ms"] = (per_op(layer), "ms")
        for layer in ("csv_writer.write_bundle_csv_exact", "warehouse.last_sync_point",
                      "warehouse.load_to_warehouse", "warehouse.save_sync_point"):
            out[f"{layer}.jobs"] = (per_op(layer, "jobs"), "count")
        bpr = [s.extra["bytes_per_row"] for s in spans if "bytes_per_row" in s.extra]
        out["csv_writer.bytes_per_row"] = (statistics.median(bpr) if bpr else 0.0, "B/row")

        top = [s for s in spans if s.name == "service.process_next"]
        child = {op: sum(s.ms for s in spans if s.op == op and s.parent is not None)
                 for op in ops}
        self_ms = [s.ms - child[s.op] for s in top]
        out["service.process_next.self_ms"] = (statistics.median(self_ms) if self_ms else 0.0, "ms")
        covered = sum(child.values()) / max(sum(s.ms for s in top), 1e-9) * 100
        out["service.span_coverage_pct"] = (covered, "%")
        for kind in ("jobs", "stages", "tasks"):
            vals = [sum(getattr(s, kind) for s in spans if s.op == op) for op in ops]
            out[f"spark.{kind}_per_op"] = (statistics.median(vals) if vals else 0.0, "count")

        out["warehouse.sync_files"] = (_count_files(self.database.sync_path), "count")
        out["warehouse.export_files"] = (_count_files(self.database.export_path), "count")

        traced = [o for i, o in enumerate(timed) if i % 2 == 0 and not o["error"]]
        plain = [o for i, o in enumerate(timed) if i % 2 == 1 and not o["error"]]
        rate = [len(x) / sum(o["s"] for o in x) if x else 0.0 for x in (traced, plain)]
        out["trace.traced_ops_per_s"] = (rate[0], "1/s")
        out["trace.untraced_ops_per_s"] = (rate[1], "1/s")
        self.notes.append(
            f"tracing: {len(traced)} traced / {len(plain)} untraced bundles; "
            f"traced {rate[0]:.4f} vs untraced {rate[1]:.4f} ops/s; "
            f"spans cover {covered:.1f}% of process_next")
        return out


def _peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def _count_files(path: str) -> int:
    """Data files under a table directory (Spark's bookkeeping excluded)."""
    return sum(1 for _, _, files in os.walk(path)
               for f in files if not f.startswith((".", "_")))
