"""The benchmark's workloads. Each drives the engine through its public API.

``bulk_serve`` — closed loop, one client, rounds of: one bulk merge-on-read
epoch through ``apply_changes`` (the batch-ingest defaults of ``run_ingest.py``:
``agg`` dedup, fused exchange, 32 buckets), seeded point lookups and one full
scan reduced to a checksum.

``cdc_tail`` — open loop, one generator thread: small change files are renamed
into a directory on a fixed schedule while ``start_cdc_ingest`` tails it with
the streaming-tail configuration (``bucket_sorted``, merge-on-read, async epoch
manifests, one file per trigger). Freshness runs from each file's scheduled
drop to the commit whose stream watermark covers it. After the tail, the same
lookups and a scan run on the stream-fed table.

A traced run then compacts the table (and ``bulk_serve`` runs the CDC registry
queries once each): these feed only per-layer metrics, so untraced runs, which
give the end-to-end metrics, skip them.

Every operation is counted as attempted; it fails if it raises or if its
result disagrees with the DuckDB oracle (checked after the timed window).
"""

from __future__ import annotations

import glob
import json
import os
import sys
import threading
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

from etl_geo_dem_spark.config import EngineConfig
from etl_geo_dem_spark.plans import merge
from etl_geo_dem_spark.plans.lake_table import LakeTable
from etl_geo_dem_spark.queries import REGISTRY
from etl_geo_dem_spark.schemas import CHANGE_SCHEMA, STATE_SCHEMA
from etl_geo_dem_spark.streaming import ingest

from perfbench import inputs
from perfbench.oracle import PUBLIC_COLS, Oracle, same_result

N_BUCKETS = 32
# CDC-tagged registry queries that read only the ``events`` table
QUERY_SET = [
    "zz_cdc_lww_latest_agg",
    "zz_cdc_lww_latest_salted",
    "cdc_epoch_lineage_metrics",
    "cdc_lww_latest_window",
]


def dir_bytes(path: str) -> tuple[int, int]:
    """(parquet data bytes, all other bytes) under ``path``."""
    data = meta = 0
    for root, _, files in os.walk(path):
        for name in files:
            size = os.path.getsize(os.path.join(root, name))
            if name.endswith(".parquet"):
                data += size
            else:
                meta += size
    return data, meta


def scan_checksum(df) -> tuple[int, int, int, int]:
    """Full scan reduced to order-independent sums (see ``Oracle.scan_checksum``)."""
    r = df.agg(
        F.count(F.lit(1)),
        F.coalesce(F.sum("turn_idx"), F.lit(0)),
        F.coalesce(F.sum(F.unix_seconds("ts")), F.lit(0)),
        F.coalesce(F.sum(F.length(F.coalesce("text", F.lit("")))), F.lit(0)),
    ).collect()[0]
    return tuple(int(v) for v in r)


class Workload:
    """Shared bookkeeping: samples, failures and per-layer extras."""

    def __init__(self, spark, work: str, seed: int, tracer, seconds: float):
        self.spark = spark
        self.work = work
        self.rng = np.random.default_rng(seed)
        self.tracer = tracer
        self.seconds = seconds
        self.samples: dict[str, list[float]] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.events_applied = 0
        self.lookups: list[tuple] = []  # (prefix, conv_id, rows) for the oracle
        self.scans: list[tuple] = []  # (prefix, checksum)
        self.query_results: list[tuple] = []  # (registry name, collected result)
        self.table: LakeTable | None = None
        self.oracle = Oracle()

    def fail(self, what: str, detail: str = "") -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what} {detail}".rstrip(), file=sys.stderr)

    def op(self, kind: str, fn, *a, **kw):
        """Run one operation, record its latency under ``kind``; an exception
        counts as a failed operation and returns None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"bench.{kind}"):
                out = fn(*a, **kw)
        except Exception:
            self.fail(kind, traceback.format_exc(limit=3))
            return None
        self.samples.setdefault(kind, []).append(time.perf_counter() - t0)
        return out

    # ------------------------------------------------------------ operations
    def apply(self, path: str, epoch: int, cfg: EngineConfig) -> None:
        t0 = time.perf_counter()
        m = self.op("apply", merge.apply_changes, self.table, self.spark.read.parquet(path), epoch, cfg)
        if m is not None:
            self.events_applied += m["input_events"]
            self.samples.setdefault("rate", []).append(m["input_events"] / (time.perf_counter() - t0))

    def lookup(self, conv_id: str, prefix: int) -> None:
        def run():
            df = self.table.point_lookup(conv_id)
            with self.tracer.span("bench.lookup_collect"):
                return df.select("turn_idx", "role", "text", "tool", F.unix_micros("ts")).collect()

        rows = self.op("lookup", run)
        if rows is not None:
            self.lookups.append((prefix, conv_id, sorted(tuple(r) for r in rows)))
        if self.tracer.enabled:  # outside the timed op: listing files costs
            with self.tracer.suppressed():
                n_files = len(self.table.point_lookup(conv_id).inputFiles())
            self.samples.setdefault("files_per_lookup", []).append(n_files)

    def scan(self, prefix: int) -> None:
        out = self.op("scan", lambda: scan_checksum(self.table.read_public()))
        if out is not None:
            self.scans.append((prefix, out))

    def sample_delta_chain(self) -> None:
        if self.tracer.enabled:
            counts = self.table.delta_counts()
            self.samples.setdefault("delta_max", []).append(max(counts.values(), default=0))

    def warm_reads(self, n_conv: int, tombstoned: list[str]) -> None:
        """Untimed lookups of every probe kind and one scan, so the read path's
        first compilations are set-up rather than measured samples."""
        for _, conv_id in inputs.lookup_keys(self.rng, n_conv, 4, tombstoned):
            self.table.point_lookup(conv_id).select(
                "turn_idx", "role", "text", "tool", F.unix_micros("ts")).collect()
        scan_checksum(self.table.read_public())

    def compact(self) -> None:
        if self.tracer.enabled:
            self.op("compact", self.table.compact)

    # ----------------------------------------------------------- verification
    def verify_reads(self, prefix_files) -> None:
        """Check every lookup and scan against the oracle state at its prefix."""
        by_prefix: dict[int, list] = {}
        for prefix, conv_id, rows in self.lookups:
            by_prefix.setdefault(prefix, []).append((conv_id, rows))
        for prefix, items in by_prefix.items():
            exp = self.oracle.lookup_rows(prefix_files(prefix), [c for c, _ in items])
            for conv_id, rows in items:
                if rows != exp[conv_id]:
                    self.fail("lookup", f"{conv_id} at prefix {prefix}: {len(rows)} rows, oracle {len(exp[conv_id])}")
        for prefix, got in self.scans:
            exp = self.oracle.scan_checksum(prefix_files(prefix))
            if got != exp:
                self.fail("scan", f"at prefix {prefix}: {got} != oracle {exp}")

    def verify_state(self, files: list[str]) -> None:
        """Final table state against the oracle: row count plus row-hash sum."""
        df = self.table.read_public()
        cols = [c for c in df.columns if c in PUBLIC_COLS or c == "tool_args"]
        got = self.oracle.frame_digest(df.select(*cols).toPandas(), cols)
        exp = self.oracle.state_digest(files, cols)
        if got != exp:
            self.fail("final_state", f"{got} != oracle {exp}")

    def finish_layers(self) -> None:
        fpl = self.samples.get("files_per_lookup", [])
        self.layer["lake.files_scanned_per_lookup"] = float(np.mean(fpl)) if fpl else 0.0
        self.layer["lake.delta_files_max_per_bucket"] = float(max(self.samples.get("delta_max", [0])))

    def close(self) -> None:
        self.oracle.close()


class BulkServe(Workload):
    """Rounds of bulk epoch → lookups → scan."""

    EPOCH_EVENTS = 20_000
    N_CONV = 2_000
    # --seconds sizes the round count (a round takes about ROUND_S of wall time
    # with two task threads), so every run of a given --seconds does the same work
    ROUND_S = 8.5
    # tool_args appears in the base epoch (additive schema evolution), so every
    # timed epoch does the same work
    EVOLVE_FROM = 0
    LOOKUPS_PER_ROUND = 6
    EVENTS_ROWS = 10_000

    def setup(self) -> None:
        self.rounds = max(2, int(self.seconds // self.ROUND_S))
        self.files = inputs.write_change_files(
            self.rng, os.path.join(self.work, "changes"), self.rounds + 1,
            self.EPOCH_EVENTS, self.N_CONV, evolve_from=self.EVOLVE_FROM,
        )
        self.events_dir = os.path.join(self.work, "events_db")
        inputs.write_events_table(self.rng, self.events_dir, self.EVENTS_ROWS)
        tombstoned = self.oracle.most_deleted(self.files, k=20)
        self.keys = inputs.lookup_keys(
            self.rng, self.N_CONV, self.LOOKUPS_PER_ROUND * self.rounds, tombstoned
        )
        self.query_order = [QUERY_SET[i] for i in self.rng.permutation(len(QUERY_SET))]
        self.cfg = EngineConfig(dedup_strategy="agg", n_buckets=N_BUCKETS, merge_mode="mor")
        self.table = LakeTable.create(
            self.spark, os.path.join(self.work, "table"), STATE_SCHEMA, n_buckets=N_BUCKETS
        )
        # the base table; its epoch pays the cold JIT, so it is set-up, not measured
        base = merge.apply_changes(self.table, self.spark.read.parquet(self.files[0]), 0, self.cfg)
        self.base_events = base["input_events"]
        self.warm_reads(self.N_CONV, tombstoned)

    def run(self) -> None:
        for e in range(1, self.rounds + 1):
            self.apply(self.files[e], e, self.cfg)
            self.sample_delta_chain()
            for _, conv_id in self.keys[(e - 1) * self.LOOKUPS_PER_ROUND: e * self.LOOKUPS_PER_ROUND]:
                self.lookup(conv_id, e)
            self.scan(e)
        self.stored = dir_bytes(self.table.path)
        self.compact()
        if self.tracer.enabled:
            for name in self.query_order:
                got = self.op(f"query.{name}", lambda: REGISTRY[name].fn(self.spark, self.events_dir).toPandas())
                if got is not None:
                    self.query_results.append((name, got))

    def verify(self) -> None:
        self.verify_reads(lambda prefix: self.files[: prefix + 1])
        self.verify_state(self.files)
        ev = os.path.join(self.events_dir, "events.parquet")
        for name, got in self.query_results:
            exp = self.oracle.query_result(REGISTRY[name].oracle, {"events": ev})
            if not same_result(got, exp):
                self.fail(f"query.{name}", f"{len(got)} rows, oracle {len(exp)}")

    def stored_bytes_per_event(self) -> float:
        return sum(self.stored) / (self.base_events + self.events_applied)


class CdcTail(Workload):
    """Open-loop streaming tail, then reads on the stream-fed table."""

    FILE_EVENTS = 8_000
    N_CONV = 1_000
    WARMUP_FILES = 2
    # fixed schedule, never slowed: one file every INTERVAL_S. A warm 8k-event
    # micro-batch takes ~1.5 s with two task threads on a 4-core machine (nearly
    # all of it fixed per-batch cost), so this offers about 40% of capacity. At half, batches
    # slowed by a busy shared host outran the schedule and the backlog grew.
    INTERVAL_S = 4.0
    TAIL_SHARE = 0.7  # of --seconds; the reads take the rest
    LOOKUPS = 8
    POLL_S = 0.02

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.query = None  # the StreamingQuery, once started
        self._stop = threading.Event()

    def setup(self) -> None:
        self.n_timed = max(4, int(self.seconds * self.TAIL_SHARE // self.INTERVAL_S))
        n_files = self.WARMUP_FILES + self.n_timed
        self.staging = os.path.join(self.work, "staging")
        self.files = inputs.write_change_files(
            self.rng, self.staging, n_files, self.FILE_EVENTS, self.N_CONV
        )
        tombstoned = self.oracle.most_deleted(self.files, k=20)
        self.keys = inputs.lookup_keys(self.rng, self.N_CONV, self.LOOKUPS, tombstoned)
        self.src = os.path.join(self.work, "source")
        os.makedirs(self.src)
        self.ckpt = os.path.join(self.work, "checkpoint")
        self.sid = os.path.realpath(self.ckpt)
        self.cfg = EngineConfig(
            dedup_strategy="bucket_sorted", n_buckets=N_BUCKETS, merge_mode="mor",
            epoch_manifest_async=True,
        )
        self.table = LakeTable.create(
            self.spark, os.path.join(self.work, "table"), STATE_SCHEMA, n_buckets=N_BUCKETS
        )
        self.dropped: list[tuple[str, float, float]] = []  # (path, due, actual)
        self.commits: list[tuple[float, int]] = []  # (seen at, stream watermark)
        self.backlog_max = 0
        self.observer = threading.Thread(target=self._observe, name="perfbench-observer", daemon=True)
        self.observer.start()
        self.query = ingest.start_cdc_ingest(
            self.spark, self.table, self.src, CHANGE_SCHEMA, self.ckpt, cfg=self.cfg,
            max_files_per_trigger=1, available_now=False,
        )
        for i in range(self.WARMUP_FILES):  # warm batches pay the cold JIT
            now = time.perf_counter()
            self._drop(i, now)
            if not self._await_batch(i, timeout=120):
                raise RuntimeError(f"warm-up micro-batch {i} did not commit")
        self.warm_reads(self.N_CONV, tombstoned)

    def _drop(self, i: int, due: float) -> None:
        name = os.path.basename(self.files[i])
        dest = os.path.join(self.src, name)
        now = time.time()
        # strictly increasing mtimes: the file source orders new files by them
        os.utime(self.files[i], (now, now + i * 1e-3))
        os.rename(self.files[i], dest)
        self.dropped.append((dest, due, time.perf_counter()))

    def _observe(self) -> None:
        """Poll the table's committed version; note when each watermark lands."""
        seen_v, wm = -1, -1
        with self.tracer.suppressed():
            while not self._stop.is_set():
                v = self.table.current_version()
                if v != seen_v:
                    t = time.perf_counter()
                    seen_v = v
                    w = int(self.table.snapshot_meta(v).get("stream_watermarks", {}).get(self.sid, -1))
                    if w > wm:
                        wm = w
                        self.commits.append((t, w))
                time.sleep(self.POLL_S)

    def _committed(self) -> int:
        return self.commits[-1][1] if self.commits else -1

    def _await_batch(self, batch: int, timeout: float) -> bool:
        t_end = time.perf_counter() + timeout
        while self._committed() < batch:
            if time.perf_counter() > t_end or not self.query.isActive:
                return False
            time.sleep(self.POLL_S)
        return True

    def _await_progress(self, n_before: int, n_batches: int, timeout: float = 30) -> list[dict]:
        """Progress of the batches since ``n_before``; waits until the last batch
        reports (its commit lands before Spark posts its progress)."""
        t_end = time.perf_counter() + timeout
        while True:
            progress = [json.loads(p.json) for p in self.query.recentProgress[n_before:]]
            if any(p["batchId"] >= n_batches - 1 for p in progress) or time.perf_counter() > t_end:
                return progress
            time.sleep(self.POLL_S)

    def _generate(self, t0: float) -> None:
        for k in range(self.n_timed):
            i = self.WARMUP_FILES + k
            due = t0 + k * self.INTERVAL_S
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            self._drop(i, due)
            self.backlog_max = max(self.backlog_max, i - self._committed())

    def run(self) -> None:
        t0 = time.perf_counter()
        n_before = len(self.query.recentProgress)
        gen = threading.Thread(target=self._generate, args=(t0,), name="perfbench-generator")
        gen.start()
        gen.join()
        last = len(self.files) - 1
        if not self._await_batch(last, timeout=120):
            self.fail("tail", f"batch {last} not committed; stream error: {self.query.exception()}")
        self.progress = self._await_progress(n_before, len(self.files))
        self.query.stop()
        merge.flush_epoch_manifests()
        self._stop.set()
        self.observer.join(timeout=10)
        self._score_freshness()
        for _, conv_id in self.keys:
            self.lookup(conv_id, last)
        self.sample_delta_chain()
        self.scan(last)
        self.stored = dir_bytes(self.table.path)
        self.compact()

    def _score_freshness(self) -> None:
        """Freshness per timed file: scheduled drop → first commit covering it.
        Batch ``i`` is file ``i`` (one file per trigger, dropped in order); the
        mapping is checked against the checkpoint's source log in verify()."""
        for k in range(self.n_timed):
            i = self.WARMUP_FILES + k
            self.attempted += 1
            seen = next((t for t, w in self.commits if w >= i), None)
            if seen is None:
                self.fail("micro_batch", f"file {i} never committed")
                continue
            self.samples.setdefault("freshness", []).append(seen - self.dropped[i][1])
        timed = [p for p in self.progress if p.get("numInputRows", 0) > 0]
        self.samples["micro_batch"] = [p["durationMs"]["triggerExecution"] / 1e3 for p in timed]
        self.samples["rate"] = [
            p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1e3) for p in timed
        ]
        self.events_applied = sum(p["numInputRows"] for p in timed)
        for key in ("triggerExecution", "addBatch", "walCommit", "latestOffset"):
            vals = [p["durationMs"].get(key, 0) for p in timed]
            self.layer[f"stream.{_STREAM_KEYS[key]}_ms_p50"] = float(np.median(vals)) if vals else 0.0
        self.layer["stream.backlog_files_max"] = float(self.backlog_max)
        lags = [actual - due for _, due, actual in self.dropped[self.WARMUP_FILES:]]
        self.layer["stream.generator_lag_s"] = float(max(lags, default=0.0))

    def _batch_files(self) -> dict[int, str]:
        """batch id → file name, from the file source's metadata log."""
        out: dict[int, str] = {}
        for p in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            with open(p) as f:
                for line in f:
                    line = line.strip()
                    if line.startswith("{"):
                        ent = json.loads(line)
                        out[int(ent["batchId"])] = os.path.basename(ent["path"])
        return out

    def verify(self) -> None:
        names = {i: os.path.basename(p) for i, (p, _, _) in enumerate(self.dropped)}
        if self._batch_files() != names:
            self.fail("micro_batch", "batch → file mapping differs from drop order")
        dropped = [p for p, _, _ in self.dropped]
        self.verify_reads(lambda prefix: dropped[: prefix + 1])
        self.verify_state(dropped)

    def stored_bytes_per_event(self) -> float:
        import pyarrow.parquet as pq

        rows = sum(pq.read_metadata(p).num_rows for p, _, _ in self.dropped)
        return sum(self.stored) / rows

    def close(self) -> None:
        self._stop.set()
        if self.query is not None and self.query.isActive:
            self.query.stop()
        super().close()


_STREAM_KEYS = {
    "triggerExecution": "trigger", "addBatch": "add_batch",
    "walCommit": "wal_commit", "latestOffset": "latest_offset",
}

WORKLOADS = {"bulk_serve": BulkServe, "cdc_tail": CdcTail}
