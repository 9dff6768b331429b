"""End-to-end benchmark of the lambda pipeline.

    python3 perfbench/run.py --live-ticks-per-s 1000 --live-symbols 8 \
        --history-symbols 10 --history-days 42 --history-ticks-per-file 292 \
        --corpus-docs 5000 --workload history_daily --seed 1 --seconds 15 --trace 0

Runs one workload (see ``perfbench/README.md``) from the root of a
checkout. The offered rate and input sizes come from the command in
``BENCHMARK.json``, as above. It generates the inputs from ``--seed``,
sets up one ``local[4]`` Spark session several times (``setup_s`` is the
median), measures for ``--seconds``, checks the outputs, prints a table
and, as the last line, one JSON object. ``--trace 0`` reports the
end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` wraps the
program's public entry points in spans, enables Spark's event log and
reports the per-layer metrics instead, plus the tracing overhead against
the last untraced run of the same workload and seed. Metrics a workload
measures beyond BENCHMARK.json (``fresh_*`` and ``stream.*`` on
``ticks_live``) are printed in the tables only. All files go under
``.bench_work/``.
"""

from __future__ import annotations

import argparse
import dataclasses
import importlib.util
import json
import os
import shutil
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "real_time_stock_market_data_pipeline__spark"
CORES = 4
SETUP_CYCLES = 3
# A measured window in which the hypervisor gave more than this share of
# the CPU to other guests is measured once more. Steal is set by the
# host, never by the program, so the rule cannot hide a slower program.
# On 4 vCPUs of a shared host, the 4 of 20 ticks_live windows with steal
# above 5% read fresh_p50_s 1.6-1.8x the median; none below it read
# more than 1.2x.
MAX_STEAL = 0.05


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_bytes(root_pid: int, exclude: set[int]) -> int:
    """Resident bytes of ``root_pid`` and its descendants, skipping the
    subtrees rooted at ``exclude``. A child running its parent's
    executable is a fork that has not exec'd yet (the JVM spawns helper
    commands this way): it maps its parent's pages, so counting its RSS
    would count them twice."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [(root_pid, None)]
    while todo:
        pid, parent_exe = todo.pop()
        if pid in exclude:
            continue
        exe = _exe(pid)
        if exe and exe == parent_exe:
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
        todo.extend((c, exe) for c in children.get(pid, []))
    return total


class PeakRss:
    """Samples the driver process tree (Python plus JVM) every 0.2 s."""

    def __init__(self, exclude):
        self.exclude = exclude
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(os.getpid(), self.exclude()))
            self._stop.wait(0.2)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def cpu_times() -> tuple[int, int]:
    """(total, steal) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def jvm_heap_peak_bytes(spark) -> int:
    """The JVM's heap pools' peak use since launch, summed over the pools.
    The pools peak at different times, so this bounds the peak from above."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(pool.getPeakUsage().getUsed() for pool in mf.getMemoryPoolMXBeans()
               if pool.getType().name() == "HEAP")


def session_conf(work: str, traced: bool) -> dict[str, str]:
    conf = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp"}
    if traced:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class SinkProbes:
    """Traced-run probes around the sinks: files and bytes each write
    leaves, and for the keyed upsert the rows it rewrote against the
    rows it inserted or changed."""

    def __init__(self):
        self.reset()

    def reset(self) -> None:
        self.files = 0
        self.bytes = 0
        self.rewritten = 0
        self.changed = 0

    def _count_files(self, path: str) -> None:
        for d, _, names in os.walk(path):
            for n in names:
                if n.endswith(".parquet"):
                    self.files += 1
                    self.bytes += os.path.getsize(os.path.join(d, n))

    def write(self, args, kwargs):
        path = kwargs.get("path", args[1] if len(args) > 1 else None)
        return lambda: self._count_files(path)

    def merge(self, args, kwargs):
        path = kwargs.get("path", args[2] if len(args) > 2 else None)
        before = self._rows(path)

        def done():
            after = self._rows(path)
            self._count_files(path)
            self.rewritten += len(after)
            if before is None:
                self.changed += len(after)
            else:
                cols = list(after.columns)
                m = after.merge(before[cols].drop_duplicates(), how="left", indicator=True)
                self.changed += int((m["_merge"] == "left_only").sum())

        return done

    @staticmethod
    def _rows(path):
        from perfbench import oracle

        if not os.path.isdir(path):
            return None
        return oracle.to_frame(oracle.read_parquet_dir(path))


def per_layer(res, tracer, probes, eventlog: str):
    """Per-layer metrics from the spans, the probes and the event log;
    also the span table and the event-log jobs per span."""
    from perfbench import sparklog, trace

    layer = dict(res.layer)
    spans = tracer.spans
    by_id = {s.id: s for s in spans}

    def in_windows(s):
        return any(a <= s.start <= b for a, b in res.windows)

    def durations(name, ms=False, windows_only=True):
        return [(s.end - s.start) * (1000 if ms else 1) for s in spans
                if s.name == name and (in_windows(s) or not windows_only)]

    def under_gate(s):
        while s.parent is not None:
            s = by_id[s.parent]
            if s.name == "jobs.step.gate":
                return True
        return False

    def put(metric, values, stat=sparklog.median):
        values = list(values)
        if values:  # a layer the workload never called reports nothing
            layer[metric] = stat(values)

    put("session.get_spark_s", durations("session.get_spark", windows_only=False))
    put("sources.read_partitioned_s", durations("sources.read_partitioned"))
    put("sources.input_ready_s", (s.end - s.start for s in spans
                                  if s.name == "sources.input_ready" and in_windows(s)
                                  and under_gate(s)))
    put("sources.read_file_stream_s", durations("sources.read_file_stream", windows_only=False)[-1:])
    put("operators.realtime_metrics.build_ms_p50", durations("operators.realtime_metrics", ms=True))
    put("operators.dedup_keep_last.build_ms", durations("operators.dedup_keep_last", ms=True))
    put("operators.daily_metrics.build_ms", durations("operators.daily_metrics", ms=True))
    merges = durations("sinks.merge_upsert_parquet", ms=True)
    put("sinks.merge_upsert_parquet_ms_p50", merges, lambda v: sparklog.quantile(v, 0.5))
    put("sinks.merge_upsert_parquet_ms_p90", merges, lambda v: sparklog.quantile(v, 0.9))
    if probes.changed:
        layer["sinks.merge_upsert_parquet.rewrite_ratio"] = probes.rewritten / probes.changed
    put("sinks.write_parquet_partitioned_s", durations("sinks.write_parquet_partitioned"))
    if probes.files:
        layer["sinks.bytes_written"] = probes.bytes
        layer["sinks.files_written"] = probes.files
    layer["check.wrong_rows_share"] = res.wrong_rows_share
    roll = sparklog.rollup(sparklog.read_event_log(eventlog), res.windows)
    spark_rows = roll.pop("per_span")
    for k, v in roll.items():
        layer[f"spark.{k}"] = v
    table = trace.span_table(spans, res.windows)
    return layer, table, spark_rows


def print_table(title: str, rows: list[tuple[str, object, str, str]]) -> None:
    print(f"== {title}")
    width = max(len(r[0]) for r in rows)
    for name, value, unit, note in rows:
        v = f"{value:.6g}" if isinstance(value, float) else str(value)
        print(f"  {name:<{width}}  {v:>14} {unit:<6} {note}")


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import gen, workloads

    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    names = [f.name for f in dataclasses.fields(gen.Traffic)]
    for name in names:
        ap.add_argument("--" + name.replace("_", "-"), type=int, required=True)
    args = ap.parse_args(argv)
    traffic = gen.Traffic(**{n: getattr(args, n) for n in names})

    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    spec = load_spec()
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    bench_dir = os.path.join(ROOT, ".bench_work")
    work = os.path.join(bench_dir, f"{args.workload}-s{args.seed}-{os.getpid()}")
    results_dir = os.path.join(bench_dir, "results")
    for d in (work, f"{work}/tmp", f"{work}/spark-local", results_dir):
        os.makedirs(d, exist_ok=True)
    os.environ.pop("SPARK_GRAFT_DRIVER_MEM", None)  # the package's own driver heap
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "TMPDIR": f"{work}/tmp",
        "PYSPARK_PYTHON": sys.executable,
    })
    try:
        return run(args, traffic, spec, work, results_dir, traced)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, traffic, spec, work, results_dir, traced) -> int:
    from perfbench import sparklog, trace, workloads
    from real_time_stock_market_data_pipeline__spark import session

    wl = workloads.WORKLOADS[args.workload](work, args.seed, args.seconds, traffic)
    wl.prepare()
    tracer = trace.Tracer(run_id=f"{args.workload}-s{args.seed}-{os.getpid()}")
    probes = SinkProbes()
    if traced:
        tracer.install({"sinks.merge_upsert_parquet": probes.merge,
                        "sinks.write_parquet_partitioned": probes.write})
    conf = session_conf(work, traced)
    setups, spark = [], None
    try:
        with PeakRss(lambda: {wl.generator_pid}) as rss:
            for cycle in range(SETUP_CYCLES):
                if spark is not None:
                    spark.stop()
                t = time.time()
                spark = session.get_spark(f"perfbench-{args.workload}", extra_conf=conf)
                spark.sparkContext.setLogLevel("ERROR")
                wl.warm(spark, cycle)
                setups.append(time.time() - t)
            app_id = spark.sparkContext.applicationId
            discarded = []
            for attempt in range(2):
                probes.reset()
                cpu0 = cpu_times()
                with tracer.root_span(f"workload.{args.workload}"):
                    res = wl.measure(spark)
                cpu1 = cpu_times()
                steal = (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1)
                if steal <= MAX_STEAL or attempt:
                    break
                discarded.append(f"window measured again: cpu_steal={steal:.1%} > "
                                 f"{MAX_STEAL:.0%}; it read " + ", ".join(
                                     f"{k}={v:.4g}" for k, v in res.e2e.items()))
            heap_peak = jvm_heap_peak_bytes(spark)
        spark.stop()
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        tracer.restore()
        stop_jvm()
    wl.finish(res)

    e2e = {
        "setup_s": sparklog.median(setups),
        "peak_rss_mb": rss.peak / 2**20,
        **res.e2e,
    }
    correct = res.wrong_rows_share == 0 and res.controls_ok and res.failed == 0
    key = f"{args.workload}-s{args.seed}"
    units = {"peak_rss_mb": "MB", "fresh_p50_s": "s", "fresh_p90_s": "s",
             **{m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}}
    gated = {m["name"] for m in spec["end_to_end"]}

    res.layer["host.cpu_steal_share"] = steal
    res.layer["peak_rss_mb"] = e2e["peak_rss_mb"]
    res.layer["jvm.heap_peak_mb"] = heap_peak / 2**20
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={int(traced)} cores={CORES} cpu_steal={steal:.1%} (CPU time the "
          "hypervisor gave to other guests while measuring)")
    for note in discarded + res.notes:
        print(f"  {note}")
    print(f"  setup cycles (s): {', '.join(f'{s:.3f}' for s in setups)} (first includes JVM launch)")
    for c in res.checks:
        print(f"  check {c.name}: wrong {c.wrong_rows} of {c.expected_rows} expected rows")
    print(f"  wrong_rows_share={res.wrong_rows_share:.6f} negative_control="
          f"{'detected' if res.controls_ok else 'MISSED'} attempted={res.attempted} "
          f"failed={res.failed}")
    print_table("end-to-end", [
        (m["name"], e2e[m["name"]], m["unit"], "") for m in spec["end_to_end"]
    ] + [(name, value, units[name], f"not in BENCHMARK.json; {res.fresh_note}")
         for name, value in res.e2e.items() if name not in gated
    ] + [("peak_rss_mb", e2e["peak_rss_mb"], "MB", "not gated; G1 sizes the heap per run"),
         ("jvm.heap_peak_mb", heap_peak / 2**20, "MB", "not gated; summed pool peaks"),
         ("wrong_rows_share", res.wrong_rows_share, "ratio", "not gated; sets `correct`")])

    if not traced:
        with open(os.path.join(results_dir, f"{key}-trace0.json"), "w") as fh:
            json.dump(e2e, fh)
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    else:
        eventlog = os.path.join(work, "eventlog", app_id)
        layer, spans, spark_rows = per_layer(res, tracer, probes, eventlog)
        tracer.write(os.path.join(results_dir, f"{key}-spans.jsonl"))
        listed = {m["name"] for m in spec["per_layer"]}
        rows = [(m["name"], layer.get(m["name"], 0.0), m["unit"],
                 "" if m["name"] in layer else "(layer not used)") for m in spec["per_layer"]]
        rows += [(name, value, "", "not in BENCHMARK.json")
                 for name, value in layer.items() if name not in listed]
        print_table("per-layer", rows)
        print("== spans in the measured window: count, total s, self s, spark jobs, task s")
        by_name: dict[str, list] = {}
        for s in tracer.spans:
            by_name.setdefault(s.name, []).append(s.id)
        for name, row in sorted(spans.items(), key=lambda kv: -kv[1]["self_s"]):
            jobs = sum(spark_rows.get(i, {}).get("jobs", 0) for i in by_name[name])
            task_s = sum(spark_rows.get(i, {}).get("task_s", 0.0) for i in by_name[name])
            print(f"  {name:<40} {row['count']:>5} {row['total_s']:>9.3f} "
                  f"{row['self_s']:>9.3f} {jobs:>6} {task_s:>9.3f}")
        untagged = spark_rows.get(None, {"jobs": 0})["jobs"]
        print(f"  jobs outside any span: {untagged}")
        base = os.path.join(results_dir, f"{key}-trace0.json")
        if os.path.exists(base):
            with open(base) as fh:
                plain = json.load(fh)
            print("== tracing overhead (traced minus untraced, same workload and seed)")
            for name, value in e2e.items():
                print(f"  {name:<14} {value - plain[name]:+.6g} {units[name]}")
        else:
            print("== tracing overhead: no untraced run of this workload and seed yet")
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}

    print(json.dumps({"correct": correct, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
