"""One workload run in a fresh process and JVM (started by ``run.py``).

Phases, each a span: imports, session start, load generation (``gen_s``,
not gated), the workload's one-time preparation, three timed warm-up
passes (their median enters ``setup_s``), the measured phase, the correctness
check and, in a traced run only, the direct layer probes. The result is
written as JSON to ``--result``.

Usage (normally through run.py):
    python3 perfbench/workload.py --workload bulk_replay --seed 1 \
        --seconds 20 --trace 0 --work DIR --result FILE [--out DIR]
"""

from __future__ import annotations

import argparse
import dataclasses
import gc
import inspect
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if sys.path[0] == os.path.dirname(os.path.abspath(__file__)):
    sys.path[0] = ROOT
else:
    sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402

CORES = 4
BUCKETS = 16
FOLD_CONCURRENCY = 4
PIPELINE_DEPTH = 4
SETUP_PASSES = 3
WARM_EVENTS = 2_000


# ------------------------------------------------------------ engine glue
def replay_config(rp, **kw):
    """ReplayConfig from the engine's measured profile (when the engine
    still has one) plus ``kw``, keeping only fields ReplayConfig has."""
    prof = dict(getattr(rp, "THROUGHPUT_PROFILE", {}))
    prof.update(kw)
    names = {f.name for f in dataclasses.fields(rp.ReplayConfig)}
    return rp.ReplayConfig(**{k: v for k, v in prof.items() if k in names})


def compact(table, strategy: str):
    """``dv`` (minor) or ``local`` (major rewrite) fold; optional kwargs the
    engine no longer accepts are dropped."""
    kw = {"strategy": strategy}
    if strategy == "local":
        kw.update(target_files_per_bucket=1, concurrency=FOLD_CONCURRENCY)
    params = inspect.signature(table.compact).parameters
    return table.compact(**{k: v for k, v in kw.items() if k in params})


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def write_wal(events, log_dir: str, epoch_of, files_per_epoch: int = 4) -> None:
    """Write generated change events as a WAL: parquet segments under
    ``epoch=E/`` directories with small row groups, as ``cdc.gen`` lays
    them out. Written with pyarrow from the very frame the oracle replays,
    so the load generator pays one generation, not a Spark one as well."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([("log_offset", pa.int64()), ("op", pa.string()),
                        ("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("html", pa.binary()), ("lang", pa.string())])
    epochs = epoch_of(events["log_offset"].to_numpy())
    for e in np.unique(epochs):
        part = events[epochs == e]
        d = os.path.join(log_dir, f"epoch={int(e)}")
        os.makedirs(d, exist_ok=True)
        for i, idx in enumerate(np.array_split(np.arange(len(part)), files_per_epoch)):
            t = pa.Table.from_pandas(part.iloc[idx][schema.names], schema=schema,
                                     preserve_index=False)
            pq.write_table(t, os.path.join(d, f"part-{i:05d}.parquet"),
                           row_group_size=16_384)


# ------------------------------------------------------------- workloads
class ReplayWorkload:
    """Shared skeleton of both workloads: event generation, the warm-up
    replay cycle, the oracle check and the replayer / lake layer metrics."""

    def __init__(self, spark, tracer: Tracer, seed: int, work: str):
        from datax_3_0_0_src_spark.cdc import gen, replayer

        self.spark, self.tr, self.seed, self.work = spark, tracer, seed, work
        self.gen, self.rp = gen, replayer
        self.e2e: dict = {}  # gated end-to-end metrics
        self.named: dict = {}  # the workload's own end-to-end figures
        self.layers: dict = {}
        self.diag: dict = {}
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.events = None  # generated events the oracle replays
        self.rep = None  # the Replayer whose quarantine is checked
        self.table = None  # the LakeTable whose rows are checked
        self.driver_probe: dict = {"plan": [], "resume": []}

    def span(self, name, layer, parent=None):
        return self.tr.span(name, layer, parent)

    def mismatch(self, msg: str) -> None:
        self.mismatches.append(msg)
        self.failed += 1

    def _gen_events(self, seed: int, n: int):
        import numpy as np

        cfg = self.gen.EventGenConfig(seed=seed, n_events=n)
        return self.gen.gen_events_pdf(cfg, np.arange(n))

    def _make_replayer(self, name: str, log_dir: str, cap: int | None):
        d = os.path.join(self.work, name)
        shutil.rmtree(d, ignore_errors=True)
        with self.span("replayer.init", "cdc.replayer"):
            return self.rp.Replayer(self.spark, replay_config(
                self.rp, log_dir=log_dir, table_path=os.path.join(d, "pages"),
                work_dir=os.path.join(d, "work"), num_buckets=BUCKETS,
                max_events_per_batch=cap, max_concurrent_batches=PIPELINE_DEPTH))

    def _run(self, rep):
        with self.span("replayer.run", "cdc.replayer") as sp:
            res = rep.run()
        self.attempted += 1
        if self.tr.enabled:
            self._probe_driver(rep)
        return res, sp.dt

    def _probe_driver(self, rep) -> None:
        """Traced runs only: the replayer's per-commit driver metadata work,
        called directly after a commit so it is timed on its own."""
        with self.span("replayer.plan_batches", "cdc.replayer") as sp:
            rep.plan_batches()
        self.driver_probe["plan"].append(sp.dt)
        with self.span("replayer.resume_scan", "cdc.replayer") as sp:
            rep.last_committed_batch()
            rep.committed_pairs()
        self.driver_probe["resume"].append(sp.dt)

    # -- phases
    def generate(self) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def warmup(self, i: int) -> None:
        raise NotImplementedError

    def measure(self, seconds: float) -> None:
        raise NotImplementedError

    def check(self) -> None:
        from datax_3_0_0_src_spark.cdc.extract import _extract_text_pd_slow
        from datax_3_0_0_src_spark.cdc.oracle import replay_pandas, validate_pd

        with self.span("check.oracle", "cdc.oracle"):
            self.expected = replay_pandas(self.events)
            # the oracle's own extraction shares the engine's fast path, so
            # the expected text comes from the reference implementation
            self.expected["text"] = _extract_text_pd_slow(self.expected["html"])
            dirty = int((~validate_pd(self.events)).sum())
            want = stats.table_hash(self.expected)
        with self.span("check.read", "lake.table"):
            pdf = self.table.read().select(*stats.HASH_COLS).toArrow().to_pandas()
            got = stats.table_hash(pdf)
        with self.span("check.quarantine", "cdc.replayer"):
            q = self.rep.quarantine().count()
        if got[0] != want[0]:
            self.mismatch(f"row count {got[0]} != oracle {want[0]}")
        elif got[1] != want[1]:
            self.mismatch(f"table hash {got[1]} != oracle {want[1]}")
        if q != dirty:
            self.mismatch(f"quarantine count {q} != oracle dirty count {dirty}")

    def probe_layers(self) -> None:
        """Rows per second of the Arrow extraction kernel on a fixed array of
        the seed's html (median of three calls)."""
        import pyarrow as pa

        from datax_3_0_0_src_spark.cdc.extract import extract_text_arrow

        arr = pa.array(list(self.events["html"].iloc[:20_000]), type=pa.binary())
        dts = []
        for _ in range(3):
            with self.span("extract.kernel", "cdc.extract") as sp:
                extract_text_arrow(arr)
            dts.append(sp.dt)
        self.layers["extract.kernel_rows_per_s"] = len(arr) / stats.median(dts)

    # -- layer metrics
    def _replay_layers(self, results, run_s: list, rep) -> None:
        """Replayer counts and phases from ``rep``; lake shape of ``self.table``."""
        L = self.layers
        L["replayer.run_call_s"] = stats.median(run_s)
        L["replayer.batches"] = len(results)
        for k in ("events_read", "events_applied", "events_quarantined",
                  "events_deduped"):
            L[f"replayer.{k}"] = sum(getattr(r, k) for r in results)
        L["replayer.applied_per_read"] = (
            L["replayer.events_applied"] / L["replayer.events_read"])
        L["replayer.batch_s_p50"] = stats.median([r.duration_s for r in results])
        for key, name in (("plan", "plan_batches_s"), ("resume", "resume_scan_s")):
            v = self.driver_probe[key]
            L[f"replayer.{name}"] = stats.median(v) if v else 0.0
        # per-batch phase sums, when the engine still keeps a timeline
        phases = {"write_job": "write_job_s", "plan_s": "plan_s",
                  "footers": "footers_s", "pre_commit": "pre_commit_s",
                  "commit_cas": "commit_cas_s", "slice_stats_s": "slice_stats_s"}
        tls = getattr(rep, "batch_timelines", None) or []
        for src, dst in phases.items():
            L[f"batch.{dst}"] = sum(tl.get(src, 0.0) for tl in tls)
        snap = self.table.snapshot()
        L["lake.files"] = len(snap.all_files())
        L["lake.deltas"] = len(snap.all_deltas())
        L["lake.dvs"] = len(snap.all_dvs())
        L["lake.versions"] = snap.version
        size = sum(os.path.getsize(os.path.join(d, f))
                   for d, _, fs in os.walk(self.table.path) for f in fs)
        L["lake.bytes_per_event"] = size / L["replayer.events_applied"]
        L["lake.manifest_bytes"] = len(snap.to_json().encode())


class BulkReplay(ReplayWorkload):
    """Closed loop, one client. The seeded WAL (two epochs, 150k-event
    batches) replays into an empty table once. Fold rounds follow until the
    time is up (at least MIN_ROUNDS), each on its own copy of the replayed
    table: DV fold, a full scan, rewrite fold. An exact-duplicate pass
    (``operators.dedup_ops``) over the last round's folded pages' text ends
    the phase. A copy hard-links the replayed table's files (the table never
    rewrites a file in place), so each round starts from the same state;
    a single fold is too short a sample to time on a shared host."""

    N_EVENTS = 300_000
    BATCH = 150_000
    MIN_ROUNDS = 3

    def generate(self) -> None:
        write_wal(self._gen_events(self.seed + 1, WARM_EVENTS),
                  os.path.join(self.work, "warm_wal"), lambda off: off * 0,
                  files_per_epoch=1)
        self.events = self._gen_events(self.seed, self.N_EVENTS)
        half = self.N_EVENTS // 2
        # eight segments per epoch keep every segment near half a scan split:
        # with four, each segment sat within 2% of the split size the replayer
        # derives, so the task count, and with it the replay time, flipped
        # from seed to seed
        write_wal(self.events, os.path.join(self.work, "wal"), lambda off: off // half,
                  files_per_epoch=8)

    def warmup(self, i: int) -> None:
        """A tiny WAL replayed into a fresh table, then both folds and a scan,
        so no measured round is the first fold this JVM runs (that one took
        twice as long as the next)."""
        name = f"warm{i}"
        rep = self._make_replayer(name, os.path.join(self.work, "warm_wal"), None)
        self._run(rep)
        with self.span("lake.compact_dv", "lake.table"):
            compact(rep.table, "dv")
        with self.span("lake.scan_after_dv", "lake.table"):
            force(rep.table.read())
        with self.span("lake.compact_local", "lake.table"):
            compact(rep.table, "local")
        self.attempted += 3
        shutil.rmtree(os.path.join(self.work, name), ignore_errors=True)

    def fold_round(self, i: int) -> dict:
        from datax_3_0_0_src_spark.lake.table import LakeTable

        d = os.path.join(self.work, f"round{i}")
        shutil.copytree(self.rep.table.path, os.path.join(d, "pages"),
                        copy_function=os.link)
        t, out = LakeTable.load(self.spark, os.path.join(d, "pages")), {}
        with self.span("lake.compact_dv", "lake.table") as sp:
            compact(t, "dv")
        out["fold_dv_s"] = sp.dt
        with self.span("lake.scan_after_dv", "lake.table") as sp:
            force(t.read())
        out["scan_after_dv_s"] = sp.dt
        with self.span("lake.compact_local", "lake.table") as sp:
            compact(t, "local")
        out["fold_rewrite_s"] = sp.dt
        out["folds_s"] = out["fold_dv_s"] + out["fold_rewrite_s"]
        self.attempted += 3
        if self.table is not None:
            shutil.rmtree(os.path.dirname(self.table.path), ignore_errors=True)
        self.table = t
        return out

    def measure(self, seconds: float) -> None:
        from datax_3_0_0_src_spark.operators import dedup_ops
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        self.rep = self._make_replayer("replay", os.path.join(self.work, "wal"),
                                       self.BATCH)
        results, run_dt = self._run(self.rep)
        t1 = time.perf_counter()
        rounds = []
        # rounds that fit in the time at the average pace so far
        while len(rounds) < self.MIN_ROUNDS or (
                time.perf_counter() - t0) + (time.perf_counter() - t1) / len(rounds) <= seconds:
            rounds.append(self.fold_round(len(rounds)))
        docs = self.table.read().select(F.xxhash64("url").alias("doc_id"), "text")
        with self.span("operators.exact_dedup", "operators.dedup_ops") as sp:
            self.dedup = dedup_ops.exact_dedup(docs).select("n_docs").toPandas()
        self.attempted += 1
        med = {k: stats.median([r[k] for r in rounds]) for k in rounds[0]}
        self.named = {"replay_events_per_s": sum(r.events_read for r in results) / run_dt,
                      **med, "exact_dedup_s": sp.dt, "rounds": len(rounds)}
        self.e2e = {"throughput_per_s": self.named["replay_events_per_s"],
                    "latency_s": med["folds_s"],
                    "read_s": med["scan_after_dv_s"]}
        self._replay_layers(results, [run_dt], self.rep)
        self.layers["operators.exact_dedup_s"] = sp.dt

    def check(self) -> None:
        super().check()
        groups, docs = len(self.dedup), int(self.dedup["n_docs"].sum())
        want = (self.expected["text"].nunique(), len(self.expected))
        if (groups, docs) != want:
            self.mismatch(f"exact_dedup (groups, docs) {(groups, docs)} != oracle {want}")


class TailServe(ReplayWorkload):
    """Open-loop writer plus one closed-loop reader over a folded base table.

    Each set-up pass tails one epoch in a closed loop, then looks it up and
    pulls its changes, so the measured phase starts on the very code paths
    it times (a replay into a fresh table leaves them cold). In the measured
    phase a publisher thread moves pre-generated epochs into the WAL every
    INTERVAL_S seconds and stamps when each was due. The main thread (the
    tailer) calls ``run()`` whenever published epochs wait. One reader
    thread, in a closed loop until the tail has drained, looks up urls of
    the newest committed epoch plus absent urls and, when a new version has
    landed, pulls ``changes(since_version=last_seen)``; it reads beside
    every commit, so the contention on ``lake.table`` is steady rather than
    dependent on when a commit happens to start. A lookup beside a commit
    takes twice as long as one between commits, so the reader's lookup
    times are reported but not gated; the gated read time is that of
    N_PROBE_LOOKUPS lookups of the same kind once the tail has drained, on
    the MOR table the run built up."""

    BASE_EVENTS = 40_000
    EPOCH_EVENTS = 4_000
    # a commit takes about half the interval, so epochs do not queue behind
    # a slow one and the lag is the commit's own time
    INTERVAL_S = 4.0
    STAGED_EPOCHS = SETUP_PASSES + 10  # more than a 30-second run publishes
    N_LOOKUP_HIT, N_LOOKUP_MISS = 8, 4
    N_PROBE_LOOKUPS = 5
    BASE_EPOCHS = 2

    def epoch_of(self, off):
        nb = self.BASE_EVENTS
        return (off < nb) * (off // (nb // self.BASE_EPOCHS)) + (off >= nb) * (
            self.BASE_EPOCHS + (off - nb) // self.EPOCH_EVENTS)

    def generate(self) -> None:
        self.rng = random.Random(self.seed)
        nb = self.BASE_EVENTS
        self.all_events = self._gen_events(
            self.seed, nb + self.STAGED_EPOCHS * self.EPOCH_EVENTS)
        off = self.all_events["log_offset"].to_numpy()
        write_wal(self.all_events[off < nb], os.path.join(self.work, "wal"),
                  self.epoch_of)
        tail = self.all_events[off >= nb]
        write_wal(tail, os.path.join(self.work, "stage"), self.epoch_of,
                  files_per_epoch=1)
        ep = self.epoch_of(tail["log_offset"].to_numpy())
        self.epoch_urls = {int(e): tail["url"][ep == e].dropna().tolist()
                           for e in set(ep.tolist())}

    def prepare(self) -> None:
        """Build and fold the base table the tailer then extends."""
        self.rep = self._make_replayer("tail", os.path.join(self.work, "wal"), None)
        self._run(self.rep)
        with self.span("lake.compact_local", "lake.table"):
            compact(self.rep.table, "local")
        self.table = self.rep.table
        self.seen = self.table.snapshot().version
        self.attempted += 1

    def publish(self, epoch: int) -> None:
        os.rename(os.path.join(self.work, "stage", f"epoch={epoch}"),
                  os.path.join(self.work, "wal", f"epoch={epoch}"))

    def lookup_keys(self, epoch: int) -> list:
        """N_LOOKUP_HIT urls of ``epoch`` plus N_LOOKUP_MISS absent ones."""
        rng = self.rng
        return rng.sample(self.epoch_urls[epoch], self.N_LOOKUP_HIT) + [
            f"https://absent.example.net/p/{rng.getrandbits(48):012x}"
            for _ in range(self.N_LOOKUP_MISS)]

    def warmup(self, i: int) -> None:
        """Tail one staged epoch, look it up and pull its changes."""
        e = self.BASE_EPOCHS + i
        table = self.rep.table
        self.publish(e)
        self._run(self.rep)
        with self.span("lake.lookup", "lake.table"):
            table.lookup(self.lookup_keys(e)).collect()
        head = table.snapshot().version
        with self.span("lake.changes", "lake.table"):
            table.changes(since_version=self.seen, until_version=head).toArrow()
        self.seen = head
        self.attempted += 2

    def measure(self, seconds: float) -> None:
        rep, table = self.rep, self.rep.table
        lock = threading.Lock()
        due: dict = {}  # epoch -> time it was due to be published
        committed: dict = {}  # epoch -> return time of the run() that committed it
        late: list = []
        pub_done, stop_reader = threading.Event(), threading.Event()
        reads: dict = {k: [] for k in ("lookup", "changes", "rows",
                                       "scanned", "skipped")}
        errors: list = []
        pub_error: list = []
        backlog = [0]
        seen = [self.seen]
        first = self.BASE_EPOCHS + SETUP_PASSES  # the set-up passes tailed the ones before
        parent = self.tr.current()
        t0 = time.time()

        def publisher():
            try:
                with self.span("publisher", "loadgen", parent=parent):
                    for i, e in enumerate(range(first, self.BASE_EPOCHS + self.STAGED_EPOCHS)):
                        at = t0 + i * self.INTERVAL_S
                        if at - t0 >= seconds:
                            break
                        time.sleep(max(0.0, at - time.time()))
                        self.publish(e)
                        with lock:
                            due[e] = at
                            late.append(time.time() - at)
                    with lock:
                        backlog[0] = len(set(due) - set(committed))
            except BaseException as ex:
                pub_error.append(ex)
                raise
            finally:
                pub_done.set()

        def read_once():
            with lock:
                recent = max(committed) if committed else first - 1
            with self.span("lake.lookup", "lake.table") as sp:
                table.lookup(self.lookup_keys(recent)).collect()
            reads["lookup"].append(sp.dt)
            reads["scanned"].append(table.last_prune.get("scanned_files", 0))
            reads["skipped"].append(table.last_prune.get("bloom_skipped", 0))
            head = table.snapshot().version
            if head <= seen[0]:
                return
            with self.span("lake.changes", "lake.table") as sp:
                n = table.changes(since_version=seen[0],
                                  until_version=head).toArrow().num_rows
            reads["changes"].append(sp.dt)
            reads["rows"].append(n)
            seen[0] = head

        def reader():
            with self.span("reader", "perfbench", parent=parent):
                while not stop_reader.is_set():
                    try:
                        read_once()
                    except Exception as ex:  # noqa: BLE001 - counted; the run goes on
                        errors.append(repr(ex))

        threads = [threading.Thread(target=publisher, name="publisher"),
                   threading.Thread(target=reader, name="reader")]
        for t in threads:
            t.start()
        run_s, events_read, results_all = [], 0, []
        try:
            while True:
                with lock:
                    waiting = bool(set(due) - set(committed))
                if not waiting:
                    if pub_done.is_set():
                        break
                    with self.span("tailer.wait", "loadgen"):
                        while not pub_done.is_set():
                            with lock:
                                if set(due) - set(committed):
                                    break
                            time.sleep(0.01)
                    continue
                with self.span("replayer.run", "cdc.replayer") as sp:
                    results = rep.run()
                stamp = time.time()
                self.attempted += 1
                if self.tr.enabled:
                    self._probe_driver(rep)
                with lock:
                    for r in results:
                        committed.setdefault(r.epoch, stamp)
                run_s.append(sp.dt)
                events_read += sum(r.events_read for r in results)
                results_all += results
        finally:
            pub_done.wait()
            stop_reader.set()
            for t in threads:
                t.join()
        if pub_error:
            raise RuntimeError("publisher failed") from pub_error[0]
        probe = []
        for _ in range(self.N_PROBE_LOOKUPS):
            keys = self.lookup_keys(self.rng.choice(sorted(due)))
            with self.span("lake.lookup_after_tail", "lake.table") as sp:
                table.lookup(keys).collect()
            probe.append(sp.dt)
        self.attempted += len(reads["lookup"]) + len(reads["changes"]) + len(probe)
        self.attempted += len(errors)
        self.failed += len(errors)
        if errors:
            self.diag["reader_errors"] = errors[:5]
        lags = list(stats.commit_lags(due, committed).values())
        lag_tail, lag_pct, _ = stats.tail(lags)
        lk_tail, lk_pct, _ = stats.tail(reads["lookup"])
        self.named = {
            "commit_lag_mean_s": statistics.fmean(lags),
            "commit_lag_p50_s": stats.median(lags),
            "commit_lag_tail_s": lag_tail, "commit_lag_tail_pct": lag_pct,
            "commit_lag_n": len(lags),
            "lookup_mean_s": statistics.fmean(reads["lookup"]),
            "lookup_p50_s": stats.median(reads["lookup"]),
            "lookup_tail_s": lk_tail, "lookup_tail_pct": lk_pct,
            "lookup_n": len(reads["lookup"]),
            "changes_pull_p50_s": stats.median(reads["changes"]) if reads["changes"] else None,
            "changes_pull_n": len(reads["changes"]),
            "lookup_after_tail_p50_s": stats.median(probe),
        }
        # the mean lag, not the p50: it uses every commit of the run, and the
        # middle of five jumped from run to run by more than the bound
        self.e2e = {"throughput_per_s": events_read / sum(run_s),
                    "latency_s": self.named["commit_lag_mean_s"],
                    "read_s": self.named["lookup_after_tail_p50_s"]}
        self.diag.update({"lags_s": [round(v, 3) for v in lags],
                          "publisher_late_max_s": max(late),
                          "backlog_end": backlog[0], "epochs_published": len(due)})
        off = self.all_events["log_offset"].to_numpy()
        keep = (off < self.BASE_EVENTS) | (self.epoch_of(off) <= max(due))
        self.events = self.all_events[keep]
        self._replay_layers(results_all, run_s, rep)
        L = self.layers
        L["lake.lookup_scanned_files"] = stats.median(reads["scanned"])
        L["lake.lookup_bloom_skipped"] = stats.median(reads["skipped"])
        L["lake.changes_rows"] = sum(reads["rows"])

WORKLOADS = {"bulk_replay": BulkReplay, "tail_serve": TailServe}


class RssSampler:
    """Peak summed VmRSS of this session (driver, JVM, Python workers)."""

    def __init__(self, period_s: float = 0.2):
        self.period_s, self.peak = period_s, 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, name="rss", daemon=True)

    def _loop(self):
        sid = os.getsid(0)
        while not self._stop.is_set():
            self.peak = max(self.peak, stats.session_rss_mb(sid))
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


def jvm_times(spark) -> dict:
    """Cumulative GC and JIT-compilation seconds of the Spark JVM (which
    also runs the tasks in local mode)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(max(0, b.getCollectionTime())
                for b in mf.getGarbageCollectorMXBeans())
    return {"jvm_gc_s": gc_ms / 1e3,
            "jvm_jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3}


def fold_trace(tr: Tracer, root, elog: str, out_dir: str) -> dict:
    """Charge Spark's event log to the spans, write spans.jsonl and the
    per-layer table to ``out_dir``, and return the per-layer metrics."""
    from perfbench import tracing

    spans = tr.as_dicts()
    jobs, stages = tracing.read_event_log(elog)
    spark = tracing.spark_by_span(spans, jobs, stages, "main")
    rows, self_s = tracing.layer_table(spans, spark, root.dt, "main")
    os.makedirs(out_dir, exist_ok=True)
    tr.write(os.path.join(out_dir, "spans.jsonl"))
    table = tracing.format_table(rows)
    with open(os.path.join(out_dir, "layers.txt"), "w") as f:
        f.write(table + "\n")
    print(table, file=sys.stderr)

    kids: dict = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    todo = [s["id"] for s in spans if s["name"] == "measure"]
    subtree: set = set()
    while todo:
        sid = todo.pop()
        subtree.add(sid)
        todo += kids.get(sid, [])
    out = {f"spark.{k}": sum(spark.get(sid, {}).get(k, 0.0) for sid in subtree)
           for k in tracing.SPARK_KEYS}
    runs = [s["id"] for s in spans
            if s["id"] in subtree and s["name"] == "replayer.run"]
    out["spark.jobs_per_commit"] = (
        sum(spark.get(sid, {}).get("jobs", 0.0) for sid in runs) / len(runs))
    for layer, v in self_s.items():
        out[f"self.{layer}_s"] = v
    out["trace.unattributed_frac"] = self_s.get("perfbench", 0.0) / root.dt
    out["trace.spans"] = len(spans)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--out", help="traced runs: directory for spans and the layer table")
    a = ap.parse_args(argv)

    tr = Tracer(f"{a.workload}-s{a.seed}-{os.getpid()}", enabled=bool(a.trace))
    threading.current_thread().name = "main"
    with tr.span("run", "perfbench") as root:
        with tr.span("imports", "python.imports"):
            from datax_3_0_0_src_spark.session import get_spark
        conf = {"spark.local.dir": os.path.join(a.work, "spark-local")}
        if a.trace:
            elog = os.path.join(a.work, "eventlog")
            os.makedirs(elog)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": "file://" + elog,
                         "spark.eventLog.compress": "false"})
        with tr.span("session.start", "session") as sp_session:
            spark = get_spark(app_name=f"perfbench-{a.workload}", parallelism=CORES,
                              shuffle_partitions=CORES, extra_conf=conf)
        tr.sc = spark.sparkContext
        conf_before = dict(spark.conf.getAll)
        w = WORKLOADS[a.workload](spark, tr, a.seed, a.work)
        with tr.span("loadgen", "loadgen") as sp_gen:
            w.generate()
        gc.collect()
        with RssSampler() as rss:
            with tr.span("setup.prepare", "perfbench") as sp_prep:
                w.prepare()
            warm = []
            for i in range(SETUP_PASSES):
                with tr.span("setup.warmup", "perfbench") as sp:
                    w.warmup(i)
                warm.append(sp.dt)
            cpu0 = stats.cpu_jiffies()
            jvm0 = jvm_times(spark)
            with tr.span("measure", "perfbench") as sp_measure:
                w.measure(a.seconds)
            noise = stats.cpu_fractions(cpu0, stats.cpu_jiffies())
            noise.update({k: v - jvm0[k] for k, v in jvm_times(spark).items()})
        conf_after = dict(spark.conf.getAll)
        with tr.span("check", "perfbench.check"):
            w.check()
        if a.trace:
            with tr.span("probes", "perfbench"):
                w.probe_layers()
        with tr.span("session.stop", "session"):
            tr.sc = None
            spark.stop()

    changed = sorted(k for k in set(conf_before) | set(conf_after)
                     if conf_before.get(k) != conf_after.get(k))
    layers = {"session.start_s": sp_session.dt,
              "session.conf_changed": len(changed),
              "loadgen.gen_s": sp_gen.dt,
              "setup.warmup_s": stats.median(warm),
              "setup.prepare_s": sp_prep.dt,
              "mem.peak_rss_mb": rss.peak,
              "noise.steal_frac": noise["steal_frac"],
              "noise.idle_frac": noise["idle_frac"],
              **w.layers}
    if a.trace:
        layers.update(fold_trace(tr, root, elog, a.out))
    out = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
           "e2e": {"setup_s": sp_session.dt + stats.median(warm) + sp_prep.dt,
                   **w.e2e},
           "named": {"peak_rss_mb": rss.peak, **w.named, "gen_s": sp_gen.dt,
                     "error_rate": w.failed / w.attempted},
           "layers": layers, "diag": {**w.diag, **noise, "conf_changed": changed},
           "attempted": w.attempted, "failed": w.failed,
           "correct": not w.mismatches, "mismatches": w.mismatches,
           "measured_s": sp_measure.dt, "wall_s": root.dt}
    with open(a.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
