"""Run one workload of the CDC benchmark and print its metrics.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 10 --trace 0

The report names every metric with its unit and sample count.  The last
line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The exit code is
1 when an output disagrees with its oracle and 2 when the engine cannot
be imported from the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def definition() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric names and units of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def machine() -> dict:
    """Session settings sized to this host: every usable core, a driver
    heap of a quarter of physical memory (at most the engine's 16g
    default), and no more concurrent table writers than cores."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(x for x in f if x.startswith("MemTotal")).split()[1])
    heap_gb = max(1, min(16, mem_kb // (4 * 1024 * 1024)))
    return {"cores": cores, "driver_heap": f"{heap_gb}g",
            "max_writers": cores, "mem_total_gb": round(mem_kb / 2**20, 1)}


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def fs_type(path: str) -> str:
    best, kind = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            _dev, mnt, typ = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, kind = mnt, typ
    return kind


def fmt(v) -> str:
    if v is None:
        return "n/a"
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def overhead_lines(workload: str, seconds: float, traced: dict) -> list[str]:
    """Traced against the last untraced run of the same workload and
    window, as a share of the untraced value."""
    path = os.path.join(ROOT, ".perfbench_out", f"{workload}-trace0.json")
    if not os.path.exists(path):
        return ["tracing overhead: no untraced run of this workload recorded"]
    with open(path) as f:
        base = json.load(f)
    if base.get("seconds") != seconds:
        return ["tracing overhead: last untraced run used another --seconds"]
    out = ["tracing overhead (traced vs last untraced run):"]
    for name, (v, unit, _n) in traced.items():
        b = base["end_to_end"].get(name)
        if v is not None and b:
            out.append(f"  {name:<16}{fmt(b):>10} -> {fmt(v):>10} {unit:<5}"
                       f"({100 * (v / b - 1):+.1f}%)")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "live_tail", "serve", "registry"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf-dir", help="parquet tables for the registry "
                    "workload to read instead of generating them")
    args = ap.parse_args(argv)
    end_to_end, per_layer = definition()

    m = machine()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_GRAFT_CPUS": str(m["cores"]),
        "SPARK_GRAFT_MAX_WRITERS": str(m["max_writers"]),
        # the spark-submit launcher JVM: no perf-data file outside the checkout
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    sys.path.insert(0, ROOT)
    try:
        import bitcoin_etl_spark
        from bitcoin_etl_spark.session import get_spark
        if not bitcoin_etl_spark.__file__.startswith(ROOT + os.sep):
            raise ImportError(f"found {bitcoin_etl_spark.__file__} instead")
    except ImportError as e:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: cannot import bitcoin_etl_spark from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench.trace import (Tracer, format_layer_table, layer_table,
                                 read_event_log)
    from perfbench.workloads import WORKLOADS, rss_mb

    evdir = os.path.join(work, "eventlog")
    conf = {
        "spark.driver.memory": m["driver_heap"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(evdir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + evdir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = jvm = None
    try:
        tracer = Tracer()
        with tracer.span("session") as s:
            spark = get_spark(app_name=f"perfbench_{args.workload}",
                              cores=m["cores"], shuffle_partitions=m["cores"],
                              extra_conf=conf)
        session_s = s.dur
        jvm = spark.sparkContext._gateway.proc
        if args.trace:
            tracer.sc = spark.sparkContext
        # PERFBENCH_SCALE shrinks every input (the benchmark's own tests)
        w = WORKLOADS[args.workload](
            spark, os.path.join(work, "data"), args.seed, args.seconds,
            tracer, scale=float(os.environ.get("PERFBENCH_SCALE", "1")))
        if args.sf_dir:
            w.sf_dir = args.sf_dir
        reps = []
        for k in range(w.setup_reps):
            t = time.perf_counter()
            w.setup_once(k)
            reps.append(time.perf_counter() - t)

        steal0, jif0 = cpu_times()
        rss0 = rss_mb()
        tracer.gc_watch(bool(args.trace))
        w.in_window = True
        lo = time.time()
        w.window = (lo, lo)
        w.run()
        hi = time.time()
        w.window = (lo, hi)
        w.in_window = False
        tracer.gc_watch(False)
        rss1 = rss_mb()
        steal1, jif1 = cpu_times()
        t = time.perf_counter()
        mismatches = w.check()
        check_s = time.perf_counter() - t
        spark.stop()
        spark = None

        e2e = {"setup_s": (session_s + statistics.median(reps), "s", len(reps)),
               **w.end_to_end(),
               "driver_rss_mb": (rss1 - rss0, "MB", 2),
               "fail_frac": (w.failed / max(1, w.attempted), "ratio",
                             w.attempted)}
        with open("/proc/loadavg") as f:
            load = f.read().split()[:3]
        host = {
            "steal_pct": round(100 * (steal1 - steal0) / max(1, jif1 - jif0), 2),
            "loadavg": load,
            "work_fs": fs_type(work),
        }
        print(f"perfbench {args.workload} seed={args.seed} "
              f"seconds={args.seconds:g} trace={args.trace}")
        print("settings: " + json.dumps({**m, **host}))
        print(f"setup: session {session_s:.3f} s + median of "
              f"{[round(r, 3) for r in reps]} s; window {hi - lo:.3f} s; "
              f"check {check_s:.3f} s")
        print("end-to-end:")
        for name, (v, unit, n) in e2e.items():
            print(f"  {name:<16}{fmt(v):>12} {unit:<6}(n={n})")
        if hasattr(w, "late_ms"):
            print(f"  lander late: p50 {statistics.median(w.late_ms):.1f} ms, "
                  f"max {max(w.late_ms):.1f} ms")

        layers: dict[str, float] = {}
        if args.trace:
            work_by_group = read_event_log(evdir, (lo, hi))
            rows = layer_table(tracer.spans, work_by_group, (lo, hi))
            layers = {
                "session.start_s": session_s,
                "changelog.gen_s": statistics.median(w.gen_s) if w.gen_s else 0.0,
                "changelog.events": w.events_generated,
                "driver.pygc_ms": tracer.gc_pause_s * 1000,
                "unattributed_s": rows[-1]["self_s"],
                **w.layers(work_by_group),
            }
            for name, (v, _u, _n) in e2e.items():
                if name in per_layer and v is not None:
                    layers[name] = v
            print("per-layer (window only):")
            print(format_layer_table(rows))
            for name, v in layers.items():
                # query.<name>_ms (registry) are printed, not in the JSON
                unit = per_layer.get(name, "ms")
                print(f"  {name:<34}{fmt(v):>12} {unit}")
            for line in overhead_lines(args.workload, args.seconds, e2e):
                print(line)
        else:
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            with open(os.path.join(ROOT, ".perfbench_out",
                                   f"{args.workload}-trace0.json"), "w") as f:
                json.dump({"seconds": args.seconds,
                           "end_to_end": {k: v[0] for k, v in e2e.items()}}, f)

        for line in mismatches:
            print("MISMATCH " + line)
        print(f"correct: {not mismatches}")
        if args.trace:
            metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u}
                       for n, u in per_layer.items()}
        else:
            metrics = {n: {"value": float(e2e[n][0]), "unit": u}
                       for n, u in end_to_end.items()
                       if e2e.get(n, (None,))[0] is not None}
        sys.stdout.flush()
        print(json.dumps({"correct": not mismatches,
                          "attempted": max(1, w.attempted),
                          "failed": w.failed, "metrics": metrics}), flush=True)
        return 1 if mismatches else 0
    finally:
        if spark is not None:
            spark.stop()
        if jvm is not None:
            # the JVM exits at end of input; wait for it before returning
            jvm.stdin.close()
            jvm.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
