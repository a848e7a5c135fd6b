"""The benchmark's workloads, driven through the public API of
``bitcoin_etl_spark``.  Each one generates its inputs from the seed in
``setup_once`` (called several times; every call does the same work and
the last call's inputs are used), measures in ``run`` for the given
number of seconds, and checks its outputs in ``check`` after the window.
Why each workload exists is in README.md.
"""

from __future__ import annotations

import ast
import glob
import math
import os
import shutil
import statistics
import threading
import time
import traceback
from collections import defaultdict

import numpy as np
import pandas as pd
from pyspark.sql import functions as F, types as T

from bitcoin_etl_spark.changelog import ChangeLogSpec, generate_scenario
from bitcoin_etl_spark.lake import LakeTable
from bitcoin_etl_spark.operators import EpochApplier
from bitcoin_etl_spark.schemas import CHANGES_SCHEMA, DOCS_SCHEMA
from bitcoin_etl_spark.streaming import ChangeFeedTailer, ChangeLogTailer

from . import oracle, starschema
from .trace import SparkWork, Tracer, self_times

PAYLOAD_SCHEMA = T.StructType([f for f in DOCS_SCHEMA.fields if f.name != "_rev"])
N_BUCKETS = 16


def p50(xs):
    return statistics.median(xs) if xs else 0.0


def rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _epoch_dirs(changes_dir: str) -> list[tuple[int, str]]:
    return sorted(
        (int(d.rsplit("=", 1)[1]), d)
        for d in glob.glob(os.path.join(changes_dir, "epoch=*"))
    )


def _read_epoch(spark, path: str, epoch: int):
    return spark.read.schema(CHANGES_SCHEMA).parquet(path).withColumn(
        "epoch", F.lit(epoch).cast("long"))


def _frames(changes_dir: str) -> list[pd.DataFrame]:
    return [pd.read_parquet(d) for _e, d in _epoch_dirs(changes_dir)]


class Workload:
    """Shared bookkeeping.  ``scale`` shrinks every input size (tests)."""

    name = ""
    setup_reps = 3

    def __init__(self, spark, work: str, seed: int, seconds: float,
                 tracer: Tracer, scale: float = 1.0):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tr = tracer
        self.scale = scale
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.gen_s: list[float] = []
        self.events_generated = 0
        self.window = (0.0, 0.0)
        self.in_window = False

    def _n(self, x: int) -> int:
        return max(1, int(x * self.scale))

    def _generate(self, out: str, spec: ChangeLogSpec) -> dict:
        """The change log only: the generator's oracle is computed in
        ``check``, after the window, because it costs ~4x the log."""
        shutil.rmtree(out, ignore_errors=True)
        with self.tr.span("changelog") as s:
            man = generate_scenario(out, spec, oracle=False)
        self.gen_s.append(s.dur)
        self.events_generated = man["total_events"]
        self.epoch_events = {int(e): n for e, n in man["events_per_epoch"].items()}
        return man

    def _op(self, fn):
        """One attempted operation.  In the window an exception counts as a
        failure; in set-up it ends the run."""
        if not self.in_window:
            return fn()
        self.attempted += 1
        try:
            return fn()
        except Exception:  # noqa: BLE001 - the run reports and goes on
            self.failed += 1
            traceback.print_exc()
            return None

    def end_to_end(self) -> dict[str, tuple[float, str, int]]:
        raise NotImplementedError

    def layers(self, work: dict) -> dict[str, float]:
        return {}


def _append_stats(tr: Tracer, work: dict, since: float) -> dict[str, float]:
    """Per-commit numbers of ``LakeTable.append_delta`` spans."""
    spans = [s for s in tr.spans if s.layer == "lake.append" and s.start >= since]
    if not spans:
        return {}
    ms = [s.dur * 1000 for s in spans]
    driver = [(s.dur - work.get(s.group, SparkWork()).job_wall_s) * 1000
              for s in spans]
    jobs = sum(work.get(s.group, SparkWork()).jobs for s in spans)
    tenth = max(1, len(ms) // 10)
    return {
        "append.ms.p50": p50(ms),
        "append.driver_ms.p50": p50(driver),
        "append.jobs_per_commit": jobs / len(spans),
        "append.growth": p50(ms[-tenth:]) / p50(ms[:tenth]),
    }


def _apply_stats(tr: Tracer, since: float) -> dict[str, float]:
    spans = [s for s in tr.spans if s.start >= since]
    selfs = self_times(spans)
    applies = [s for s in spans if s.layer == "operators.apply"]
    res = [s.attrs.get("res") or {} for s in applies]
    return {
        "apply.self_ms.p50": p50([selfs[s.sid] * 1000 for s in applies]),
        "apply.events": sum(r.get("upserts", 0) + r.get("deletes", 0)
                            for r in res),
        "apply.quarantined": sum(r.get("quarantined", 0) for r in res),
        "apply.skipped": sum(1 for r in res if r.get("skipped")),
    }


def _delta_file_stats(table: LakeTable, version: int, commits: int,
                      events: int) -> dict[str, float]:
    files = [f for f in table.manifest(version)["files"]
             if f.get("kind") == "delta"]
    size = sum(os.path.getsize(os.path.join(table.path, f["path"]))
               for f in files)
    return {"append.files_per_commit": len(files) / max(1, commits),
            "append.bytes_per_event": size / max(1, events)}


class Backfill(Workload):
    """Closed loop: replay a few large epochs into a fresh table with the
    ``bench.py`` applier shape, then a full compaction and one
    ``read_final`` scan; repeat until the window is over."""

    name = "backfill"

    def spec(self) -> ChangeLogSpec:
        return ChangeLogSpec(
            n_epochs=3, events_per_epoch=self._n(30_000),
            n_keys=self._n(20_000), seed=self.seed, zipf_a=1.2,
            update_frac=0.3, delete_frac=0.05, reorgs=[(2, 5)])

    def setup_once(self, k: int) -> None:
        self.log = os.path.join(self.work, "log")
        self._generate(self.log, self.spec())
        self.epochs = _epoch_dirs(os.path.join(self.log, "changes"))
        # warm-up: the same replay into a throwaway table, so that the
        # window's first replay is as warm as its last
        self._replay(os.path.join(self.work, f"warm{k}"), self.epochs)
        shutil.rmtree(os.path.join(self.work, f"warm{k}"), ignore_errors=True)

    def _replay(self, tdir: str, epochs) -> LakeTable:
        spark, tr = self.spark, self.tr
        table = LakeTable.create(tdir, PAYLOAD_SCHEMA, n_buckets=N_BUCKETS,
                                 properties={"assume_unique_rev": True})
        tr.wrap(table, "append_delta", "lake.append")
        applier = EpochApplier(table, pipeline_id="backfill",
                               pre_reduce=False, quarantine_mode="lazy")
        t0 = time.perf_counter()
        for e, d in epochs:
            def apply(e=e, d=d):
                with tr.span("operators.apply") as s:
                    s.attrs["res"] = applier.apply_epoch(
                        spark, _read_epoch(spark, d, e), e)
                return s.dur
            ms = self._op(apply)
            if self.in_window and ms is not None:
                self.samples["commit_ms"].append(ms * 1000)
        self.pre_compact_version = table.current_version()

        def compact():
            with tr.span("lake.compact") as s:
                s.attrs["res"] = table.compact(spark)
            return s.dur
        c = self._op(compact)
        apply_compact = time.perf_counter() - t0

        def scan():
            with tr.span("lake.read", op="scan") as s:
                table.read_final(spark).count()
            return s.dur
        sc = self._op(scan)
        if self.in_window and c is not None and sc is not None:
            self.samples["compact_s"].append(c)
            self.samples["scan_ms"].append(sc * 1000)
            self.samples["events_per_s"].append(
                self.events_generated / apply_compact)
        return table

    def run(self) -> None:
        end = time.time() + self.seconds
        i = 0
        while True:
            tdir = os.path.join(self.work, f"table{i}")
            self.table = self._replay(tdir, self.epochs)
            if i:
                shutil.rmtree(os.path.join(self.work, f"table{i - 1}"),
                              ignore_errors=True)
            i += 1
            if time.time() >= end:
                break

    def check(self) -> list[str]:
        return oracle.table_mismatches(
            self.table.path,
            oracle.expected_docs(os.path.join(self.log, "changes")))

    def end_to_end(self):
        s = self.samples
        return {
            "events_per_s": (p50(s["events_per_s"]), "1/s", len(s["events_per_s"])),
            "commit_ms.p50": (p50(s["commit_ms"]), "ms", len(s["commit_ms"])),
            "compact_s": (p50(s["compact_s"]), "s", len(s["compact_s"])),
            "scan_ms.p50": (p50(s["scan_ms"]), "ms", len(s["scan_ms"])),
        }

    def layers(self, work):
        lo = self.window[0]
        out = {**_apply_stats(self.tr, lo), **_append_stats(self.tr, work, lo)}
        out.update(_delta_file_stats(self.table, self.pre_compact_version,
                                     len(self.epochs), self.events_generated))
        compacts = [s for s in self.tr.spans
                    if s.layer == "lake.compact" and s.start >= lo]
        if compacts:
            rows_in = sum(f["rows"] for f in self.table.manifest(
                self.pre_compact_version)["files"])
            res = compacts[-1].attrs.get("res") or {}
            out["compact.rows_out_per_in"] = res.get("rows", 0) / max(1, rows_in)
            cw = [work.get(s.group, SparkWork()) for s in compacts]
            out["compact.shuffle_bytes"] = p50(
                [w.shuffle_read + w.shuffle_write for w in cw])
            out["compact.task_skew"] = p50([w.skew for w in cw])
        scans = [work.get(s.group, SparkWork()) for s in self.tr.spans
                 if s.layer == "lake.read" and s.start >= lo]
        out["scan.input_bytes"] = p50([w.input_bytes for w in scans])
        out["scan.shuffle_bytes"] = p50(
            [w.shuffle_read + w.shuffle_write for w in scans])
        return out


class _SpanApplier:
    """Stands in for the tailer's ``EpochApplier``: a span around each
    ``apply_epoch`` the streaming ``foreachBatch`` body makes."""

    def __init__(self, applier: EpochApplier, tracer: Tracer, on_commit):
        self.applier = applier
        self.tr = tracer
        self.on_commit = on_commit
        self.parent = None

    def apply_epoch(self, spark, df, epoch_id):
        entered = time.time()
        with self.tr.span("operators.apply", parent=self.parent) as s:
            res = self.applier.apply_epoch(spark, df, epoch_id)
            s.attrs["res"] = res
        self.on_commit(entered, s.end, res)
        return res


class LiveTail(Workload):
    """Open loop: a lander thread moves one pre-generated epoch into the
    change-log directory every ``INTERVAL_S`` (atomic rename), and one
    long-lived ``ChangeLogTailer`` with the ``tail`` CLI's applier
    defaults drains them into one long-lived table.  Epoch 0 is in place
    before the stream starts (the file source fixes its partition columns
    from the directory it first lists) and is not timed."""

    name = "live_tail"
    INTERVAL_S = 1.0
    DEADLINE_S = 5.0

    def n_epochs(self) -> int:
        return 1 + max(2, round(self.seconds / self.INTERVAL_S))

    def spec(self) -> ChangeLogSpec:
        return ChangeLogSpec(
            n_epochs=self.n_epochs(), events_per_epoch=self._n(2_000),
            n_keys=self._n(20_000), seed=self.seed, zipf_a=1.2,
            update_frac=0.3, delete_frac=0.05, bad_row_frac=0.01)

    def setup_once(self, k: int) -> None:
        self.gen = os.path.join(self.work, "gen")
        self._generate(self.gen, self.spec())
        counts = [self.epoch_events[e] for e in range(self.n_epochs())]
        self.events = counts
        self.seq_lo = list(np.cumsum([0] + counts[:-1]))
        # warm the streaming path: one tailer over a copy of epoch 0
        wdir = os.path.join(self.work, f"warm{k}")
        shutil.copytree(os.path.join(self.gen, "changes", "epoch=0"),
                        os.path.join(wdir, "changes", "epoch=0"))
        wt = LakeTable.create(os.path.join(wdir, "table"), PAYLOAD_SCHEMA,
                              n_buckets=N_BUCKETS)
        ChangeLogTailer(self.spark, os.path.join(wdir, "changes"),
                        EpochApplier(wt, pipeline_id="tail"),
                        os.path.join(wdir, "ckpt")).run_available()
        shutil.rmtree(wdir, ignore_errors=True)

    def _on_commit(self, entered: float, done: float, res: dict) -> None:
        if res.get("skipped"):
            return
        mx = res.get("max_seq", -1)
        n = 0
        for k in range(len(self.commit_at)):
            if self.commit_at[k] is None and self.seq_lo[k] <= mx:
                self.commit_at[k] = done
                self.batch_entered[k] = entered
                n += 1
        self.batch_sizes.append(n)

    def _land(self, k: int) -> None:
        os.rename(os.path.join(self.gen, "changes", f"epoch={k}"),
                  os.path.join(self.changes, f"epoch={k}"))
        self.landed[k] = time.time()

    def _lander(self) -> None:
        for k in range(1, self.n_epochs()):
            delay = self.due[k] - time.time()
            if delay > 0:
                time.sleep(delay)
            self._land(k)

    def _wait(self, q, until: float, epochs) -> None:
        while (any(self.commit_at[k] is None for k in epochs)
               and time.time() < until and q.exception() is None):
            time.sleep(0.01)

    def run(self) -> None:
        n = self.n_epochs()
        self.commit_at = [None] * n
        self.batch_entered = [None] * n
        self.landed = [None] * n
        self.batch_sizes: list[int] = []
        self.changes = os.path.join(self.work, "changes")
        os.makedirs(self.changes)
        self.table = LakeTable.create(os.path.join(self.work, "table"),
                                      PAYLOAD_SCHEMA, n_buckets=N_BUCKETS)
        self.tr.wrap(self.table, "append_delta", "lake.append")
        proxy = _SpanApplier(EpochApplier(self.table, pipeline_id="tail"),
                             self.tr, self._on_commit)
        tailer = ChangeLogTailer(self.spark, self.changes, proxy,
                                 os.path.join(self.work, "ckpt"))
        timed = range(1, n)
        with self.tr.span("streaming.tail") as tail_span:
            proxy.parent = tail_span
            self._land(0)
            q = tailer.start()
            try:
                self._wait(q, time.time() + 60, [0])
                self.t0 = time.time()
                self.due = [self.t0 + (k - 1) * self.INTERVAL_S
                            for k in range(n)]
                lander = threading.Thread(target=self._lander)
                lander.start()
                lander.join()
                self._wait(q, self.due[-1] + 3 * self.DEADLINE_S, timed)
            finally:
                q.stop()
        self.attempted = len(timed)
        for k in timed:
            c = self.commit_at[k]
            if c is None or c - self.due[k] > self.DEADLINE_S:
                self.failed += 1
            if c is not None:
                self.samples["fresh_ms"].append((c - self.due[k]) * 1000)
                self.samples["pickup_ms"].append(
                    (self.batch_entered[k] - self.landed[k]) * 1000)
        self.samples["commit_ms"] = [d * 1000 for d in self.tr.durations(
            "operators.apply", since=self.t0)]
        done = [k for k in timed if self.commit_at[k] is not None]
        if done:
            # the offered span: from the first due time to one interval
            # after the last landing, or to the last commit if later
            end = max(max(self.commit_at[k] for k in done),
                      self.landed[n - 1] + self.INTERVAL_S)
            self.samples["events_per_s"] = [
                sum(self.events[k] for k in done) / (end - self.due[1])]
        self.late_ms = [(self.landed[k] - self.due[k]) * 1000 for k in timed]

    def check(self) -> list[str]:
        missing = [k for k, c in enumerate(self.commit_at) if c is None]
        out = [f"epochs never committed: {missing}"] if missing else []
        return out + oracle.table_mismatches(
            self.table.path, oracle.expected_docs(self.changes))

    def end_to_end(self):
        s = self.samples
        return {
            "events_per_s": (p50(s["events_per_s"]), "1/s", 1),
            "commit_ms.p50": (p50(s["commit_ms"]), "ms", len(s["commit_ms"])),
            "commit_ms.p95": _p95(s["commit_ms"]),
            "fresh_ms.p50": (p50(s["fresh_ms"]), "ms", len(s["fresh_ms"])),
            "fresh_ms.p95": _p95(s["fresh_ms"]),
        }

    def layers(self, work):
        lo = self.t0
        out = {**_apply_stats(self.tr, lo), **_append_stats(self.tr, work, lo)}
        commits = len(self.batch_sizes)
        events = sum(self.events[k] for k, c in enumerate(self.commit_at)
                     if c is not None)
        out.update(_delta_file_stats(self.table, None, commits, events))
        out["tail.pickup_ms.p50"] = p50(self.samples["pickup_ms"])
        out["tail.batches"] = commits
        out["tail.epochs_per_batch"] = p50(self.batch_sizes)
        mdir = os.path.join(self.table.path, "manifest")
        head = self.table.current_version()
        sizes = [os.path.getsize(os.path.join(mdir, f"v{v}.json"))
                 for v in range(1, head + 1)]
        out["manifest.head_bytes"] = sizes[-1] if sizes else 0
        out["manifest.head_growth"] = sizes[-1] / sizes[0] if sizes else 0
        out["manifest.versions"] = head
        out["manifest.ledger_entries"] = sum(
            len(v) for v in self.table.manifest()["ledger"].values())
        return out


def _p95(xs: list[float]):
    """The 95th percentile, kept only with ≥10 samples beyond it."""
    if len(xs) * 0.05 < 10:
        return (None, "ms", len(xs))
    return (float(np.percentile(xs, 95)), "ms", len(xs))


class Serve(Workload):
    """Closed loop, one client, over a compacted base plus uncompacted
    delta epochs, in rounds: one read (``point_lookup`` of a seeded hot or
    absent key, or a ``read_final`` scan, in the fixed order of ``MIX``),
    then one small epoch appended and one ``ChangeFeedTailer`` increment
    drained.  The read mix and the read:append ratio are assumptions, not
    measured traffic (README.md); the write-side metrics do not include
    the reads.  The order is fixed so that every window, whatever its
    seed, makes the same kinds of reads before its appends."""

    name = "serve"
    BASE_EPOCHS = 40
    DELTA_EPOCHS = 2
    MIX = ("hot", "absent", "hot", "scan", "hot")
    APPEND_EVENTS = 500
    MIN_ROUND_S = 0.4  # the append pool lasts the window down to this

    def pool(self) -> int:
        return math.ceil(self.seconds / self.MIN_ROUND_S)

    def spec(self) -> ChangeLogSpec:
        return ChangeLogSpec(
            n_epochs=self.BASE_EPOCHS + self.DELTA_EPOCHS + self.pool(),
            events_per_epoch=self._n(self.APPEND_EVENTS),
            n_keys=self._n(10_000),
            seed=self.seed, zipf_a=1.2, update_frac=0.3, delete_frac=0.05,
            bad_row_frac=0.005)

    def setup_once(self, k: int) -> None:
        spark = self.spark
        self.gen = os.path.join(self.work, "gen")
        self._generate(self.gen, self.spec())
        self.epochs = _epoch_dirs(os.path.join(self.gen, "changes"))
        tdir = os.path.join(self.work, "table")
        shutil.rmtree(tdir, ignore_errors=True)
        self.table = LakeTable.create(tdir, PAYLOAD_SCHEMA, n_buckets=N_BUCKETS)
        self.applier = EpochApplier(self.table, pipeline_id="serve")
        base = spark.read.schema(CHANGES_SCHEMA).option(
            "basePath", os.path.join(self.gen, "changes")).parquet(
            *[d for _e, d in self.epochs[:self.BASE_EPOCHS]])
        self.applier.apply_epoch(spark, base, 0)
        self.table.compact(spark)
        cursor = os.path.join(self.work, "feed.cursor")
        if os.path.exists(cursor):
            os.unlink(cursor)
        self.feed_rows: list[int] = []
        self.feed = ChangeFeedTailer(spark, self.table, self._sink, cursor)
        for i, (e, d) in enumerate(self.epochs[
                self.BASE_EPOCHS:self.BASE_EPOCHS + self.DELTA_EPOCHS]):
            self.applier.apply_epoch(spark, _read_epoch(spark, d, e), e)
            # the first call starts the cursor at the head; the last one
            # warms a real increment, so the window's first feed is warm
            if i in (0, self.DELTA_EPOCHS - 1):
                self.feed.run_available()
        n_keys = self.spec().n_keys
        for idx in (0, n_keys):  # a present and an absent key
            self.table.point_lookup(spark, f"doc_{idx:012d}").collect()
        self.table.read_final(spark).count()

    def _sink(self, df, _from_v, _to_v) -> None:
        self.feed_rows.append(df.count())

    def _read(self, kind: str, rng, n_keys: int):
        spark, tr, table = self.spark, self.tr, self.table
        if kind == "scan":
            def scan():
                with tr.span("lake.read", op="scan") as s:
                    n = table.read_final(spark).count()
                self.samples["scan_ms"].append(s.dur * 1000)
                return n
            return ("scan", None, self._op(scan))
        idx = ((int(rng.zipf(1.2)) - 1) % n_keys if kind == "hot"
               else n_keys + int(rng.integers(n_keys)))
        key = f"doc_{idx:012d}"

        def lookup():
            with tr.span("lake.read", op="lookup") as s:
                rows = table.point_lookup(spark, key).collect()
            self.samples["lookup_ms"].append(s.dur * 1000)
            return [oracle.doc_row((x["doc_id"], x["tokens"], x["n_tok"],
                                 x["source"])) for x in rows]
        return ("lookup", key, self._op(lookup))

    def _append(self, e: int, d: str):
        spark, tr = self.spark, self.tr
        with tr.span("operators.apply") as s:
            s.attrs["res"] = self.applier.apply_epoch(
                spark, _read_epoch(spark, d, e), e)
        self.samples["commit_ms"].append(s.dur * 1000)
        before = len(self.feed_rows)
        with tr.span("streaming.feed") as f:
            self.feed.run_available()
        self.samples["feed_ms"].append(f.dur * 1000)
        return self.feed_rows[before:]

    def run(self) -> None:
        self.tr.wrap(self.table, "append_delta", "lake.append")
        self.tr.wrap(self.table, "read_changes", "lake.changes")
        rng = np.random.default_rng(self.seed * 7919 + 1)
        n_keys = self.spec().n_keys
        pool = self.epochs[self.BASE_EPOCHS + self.DELTA_EPOCHS:]
        self.ops: list[tuple] = []
        end = time.perf_counter() + self.seconds
        rounds = 0
        while rounds < len(pool) and time.perf_counter() < end:
            self.ops.append(self._read(self.MIX[rounds % len(self.MIX)],
                                       rng, n_keys))
            e, d = pool[rounds]
            t0 = time.perf_counter()
            self.ops.append(("append", e, self._op(lambda: self._append(e, d))))
            rounds += 1
            # the append and its feed increment only, not the reads
            self.samples["events_per_s"].append(
                self.epoch_events[e] / (time.perf_counter() - t0))
        self.rounds = rounds

    def check(self) -> list[str]:
        frames = _frames(os.path.join(self.gen, "changes"))
        state = oracle.DocState()
        for f in frames[:self.BASE_EPOCHS + self.DELTA_EPOCHS]:
            state.apply(f)
        pool = frames[self.BASE_EPOCHS + self.DELTA_EPOCHS:]
        out = []
        applied = 0
        for kind, arg, got in self.ops:
            if kind == "append":
                want = state.apply(pool[applied])
                applied += 1
                if got is not None and got != [want]:
                    out.append(f"feed after epoch {arg}: got {got}, want [{want}]")
            elif got is None:
                continue
            elif kind == "lookup":
                want = [state.docs[arg]] if arg in state.docs else []
                if got != want:
                    out.append(f"lookup {arg}: got {got}, want {want}")
            elif got != len(state.docs):
                out.append(f"scan: got {got} rows, want {len(state.docs)}")
            if len(out) > 5:
                break
        return out

    def end_to_end(self):
        s = self.samples
        return {
            "events_per_s": (p50(s["events_per_s"]), "1/s", self.rounds),
            "commit_ms.p50": (p50(s["commit_ms"]), "ms", len(s["commit_ms"])),
            "lookup_ms.p50": (p50(s["lookup_ms"]), "ms", len(s["lookup_ms"])),
            "lookup_ms.p95": _p95(s["lookup_ms"]),
            "scan_ms.p50": (p50(s["scan_ms"]), "ms", len(s["scan_ms"])),
            "feed_ms.p50": (p50(s["feed_ms"]), "ms", len(s["feed_ms"])),
        }

    def layers(self, work):
        lo = self.window[0]
        out = {**_apply_stats(self.tr, lo), **_append_stats(self.tr, work, lo)}
        reads = [s for s in self.tr.spans if s.layer == "lake.read" and s.start >= lo]
        look = [work.get(s.group, SparkWork()) for s in reads
                if s.attrs.get("op") == "lookup"]
        scans = [work.get(s.group, SparkWork()) for s in reads
                 if s.attrs.get("op") == "scan"]
        feeds = [work.get(s.group, SparkWork()) for s in self.tr.spans
                 if s.layer == "streaming.feed" and s.start >= lo]
        out["lookup.input_bytes.p50"] = p50([w.input_bytes for w in look])
        out["scan.input_bytes"] = p50([w.input_bytes for w in scans])
        out["scan.shuffle_bytes"] = p50(
            [w.shuffle_read + w.shuffle_write for w in scans])
        out["feed.rows.p50"] = p50(self.feed_rows)
        out["feed.input_bytes.p50"] = p50([w.input_bytes for w in feeds])
        return out


class Registry(Workload):
    """Closed passes over the ``bench.py`` headline queries, each ending
    in ``.count()``.  Reads the tables ``starschema`` generates from the
    seed, or the parquet tables in ``sf_dir`` when one is given."""

    name = "registry"
    setup_reps = 1
    TABLES = starschema.TABLES
    sf_dir = ""

    @staticmethod
    def queries() -> list[str]:
        """``bench.py``'s ``HEADLINE_QUERIES``, read from its source
        (importing it would run its module-level set-up)."""
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "bench.py")) as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            if (isinstance(node, ast.Assign)
                    and getattr(node.targets[0], "id", "") == "HEADLINE_QUERIES"):
                return list(ast.literal_eval(node.value))
        raise LookupError("bench.py defines no HEADLINE_QUERIES")

    def setup_once(self, k: int) -> None:
        from bitcoin_etl_spark.plans.queries import QUERIES

        self.tables_dir = self.sf_dir or os.path.join(self.work, "sf")
        if not self.sf_dir:
            with self.tr.span("starschema") as s:
                self.events_generated = starschema.write_tables(
                    self.tables_dir, self.seed, self.scale)
            self.gen_s.append(s.dur)
        missing = [t for t in self.TABLES if not os.path.exists(
            os.path.join(self.tables_dir, f"{t}.parquet"))]
        if missing:
            raise FileNotFoundError(f"{self.tables_dir} lacks tables {missing}")
        self.names = self.queries()
        for name in self.names:  # untimed warm pass
            QUERIES[name](self.spark, self.tables_dir).count()

    def run(self) -> None:
        from bitcoin_etl_spark.plans.queries import QUERIES

        end = time.time() + self.seconds
        while True:
            t0 = time.perf_counter()
            for name in self.names:
                def q(name=name):
                    with self.tr.span("plans.queries", query=name) as s:
                        QUERIES[name](self.spark, self.tables_dir).count()
                    self.samples[f"query.{name}_ms"].append(s.dur * 1000)
                self._op(q)
            self.samples["pass_s"].append(time.perf_counter() - t0)
            if time.time() >= end:
                break

    def check(self) -> list[str]:
        return oracle.registry_mismatches(self.spark, self.tables_dir,
                                          self.names, self.TABLES)

    def end_to_end(self):
        s = self.samples["pass_s"]
        return {"pass_s": (p50(s), "s", len(s))}

    def layers(self, work):
        return {f"query.{n}_ms": p50(self.samples[f"query.{n}_ms"])
                for n in self.names}


WORKLOADS = {w.name: w for w in (Backfill, LiveTail, Serve, Registry)}
