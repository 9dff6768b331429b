"""The workloads. Each one generates its inputs from the seed, warms
the engine on a separate input (part of set-up), measures for the run
length through the program's public entry points only, and checks every
output it measured.

- ``ticks_live``: speed layer, open loop. ``lander`` lands tick files on
  a Poisson schedule while ``stream_realtime_metrics`` runs with a 1 s
  processing-time trigger. Not in BENCHMARK.json: its check fails on
  the program's multi-batch window defect (see README.md).
- ``history_daily``: batch layer. ``historical_pipeline`` over landed
  daily tick files with re-delivered duplicates, upserting into a
  pre-seeded warehouse, repeated for about the run length.
- ``corpus_build``: LLM-data layer. ``corpus_pipeline`` over a corpus
  with exact and word-edited copies, repeated for about the run length.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import time
from collections import Counter
from dataclasses import asdict, dataclass, field

from perfbench import gen, oracle, sparklog
from perfbench.sparklog import median, quantile

TRIGGER_SECONDS = 1
LANDER_LEAD_S = 2.0      # schedule starts this long after the lander is launched
WARM_FILES_PER_BATCH = 15
RAMP_S = 5.0             # schedule head whose files give no sample (see measure)
DRAIN_TIMEOUT_S = 60.0   # after the last file lands
REP_S = 3.0              # history_daily: 5 runs (of about 2.5 s) at 15 s
CORPUS_REP_S = 5.0       # corpus_build: 3 runs (of about 6 s) at 15 s
# history_daily walls reach their steady state after about five runs on an
# input of the measured size (a third-size warm-up input left the first
# measured run 1.4x the last), so set-up warms on full-size inputs of
# another seed, twice per cycle.
HISTORY_WARM_RUNS = 2
SYMBOL, PRICE, ID = "event_type", "value", "event_id"


@dataclass
class Result:
    attempted: int
    failed: int
    e2e: dict[str, float]
    layer: dict[str, float] = field(default_factory=dict)
    checks: list[oracle.Check] = field(default_factory=list)
    controls_ok: bool = True
    windows: list[tuple[float, float]] = field(default_factory=list)
    notes: list[str] = field(default_factory=list)
    fresh_note: str = ""

    @property
    def wrong_rows_share(self) -> float:
        expected = sum(c.expected_rows for c in self.checks)
        return sum(c.wrong_rows for c in self.checks) / max(expected, 1)


def _step_metrics(runs, layer: dict[str, float]) -> int:
    """``jobs.step.<name>_s`` (median over repetitions) and
    ``jobs.step.<name>.rows`` (the funnel counts). Returns how many
    repetitions failed a step or disagreed on a count."""
    failed = 0
    first = {r.name: r.value for r in runs[0].results}
    for run in runs:
        if not run.ok or {r.name: r.value for r in run.results} != first:
            failed += 1
    for name in first:
        if name == "complete":
            continue
        layer[f"jobs.step.{name}_s"] = median(
            r.elapsed_s for run in runs for r in run.results if r.name == name
        )
        value = first[name]
        if isinstance(value, (int, float)) and not isinstance(value, bool):
            layer[f"jobs.step.{name}.rows"] = value
    return failed


class Workload:
    name = ""
    generator_pid = -1  # a load generator is not part of the measured memory

    def __init__(self, work: str, seed: int, seconds: float, traffic: gen.Traffic):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.traffic = traffic

    def prepare(self) -> None:
        """Generate the measured and the warm-up inputs."""

    def warm(self, spark, cycle: int) -> None:
        """Run the workload's path on its warm-up input (not the measured one)."""

    def measure(self, spark) -> Result:
        raise NotImplementedError

    def finish(self, res: Result) -> None:
        """Checks that can wait until the session is stopped."""


class TicksLive(Workload):
    name = "ticks_live"

    def prepare(self):
        gen.warm_ticks(self.seed, self.traffic, os.path.join(self.work, "warm_src"),
                       3 * WARM_FILES_PER_BATCH)

    def warm(self, spark, cycle):
        from real_time_stock_market_data_pipeline__spark.streaming import pipeline

        d = os.path.join(self.work, f"warm{cycle}")
        # batches of the size the run sees: the first creates the target,
        # the later ones take the read-merge-swap upsert path
        src = pipeline.read_file_stream(
            spark, os.path.join(self.work, "warm_src"),
            max_files_per_trigger=WARM_FILES_PER_BATCH)
        q = pipeline.stream_realtime_metrics(
            src, os.path.join(d, "target"), os.path.join(d, "ck"),
            symbol_col=SYMBOL, price_col=PRICE, available_now=True,
        )
        q.awaitTermination(300)
        q.stop()

    def _launch_lander(self, window: str, src: str, manifest: str, t0: float):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        env = dict(os.environ, PYTHONPATH=root)
        return subprocess.Popen(
            [sys.executable, "-m", "perfbench.lander", "--seed", str(self.seed),
             "--seconds", str(RAMP_S + self.seconds), "--t0", repr(t0),
             "--traffic", json.dumps(asdict(self.traffic)), "--out", src,
             "--stage", os.path.join(window, "stage"), "--manifest", manifest],
            cwd=root, env=env,
        )

    def measure(self, spark):
        from real_time_stock_market_data_pipeline__spark.streaming import pipeline

        window = tempfile.mkdtemp(prefix="window", dir=self.work)  # one per measured window
        src = os.path.join(window, "src")
        ck = os.path.join(window, "ck")
        target = os.path.join(window, "target")
        manifest = os.path.join(window, "manifest.json")
        os.makedirs(src)
        init = gen.live_initial_file(self.seed, self.traffic)
        gen.write_table(init.table, os.path.join(src, init.name))
        # The schedule runs RAMP_S longer than the measured window and its
        # head gives no samples: the queue starts empty, and the first
        # batches at full size are still slower (JIT) than the steady state
        # a long-running stream is in.
        schedule = gen.live_schedule(self.seed, self.traffic, RAMP_S + self.seconds)
        measured = {f.name for f in schedule if f.due_s >= RAMP_S}

        progress: list[dict] = []
        listener = sparklog.make_listener(progress)
        spark.streams.addListener(listener)
        t0 = time.time() + LANDER_LEAD_S
        lander = self._launch_lander(window, src, manifest, t0)
        self.generator_pid = lander.pid
        try:
            stream = pipeline.read_file_stream(spark, src)
            q = pipeline.stream_realtime_metrics(
                stream, target, ck, symbol_col=SYMBOL, price_col=PRICE,
                trigger_seconds=TRIGGER_SECONDS,
            )
            lander.wait(timeout=LANDER_LEAD_S + RAMP_S + self.seconds + 60)
            deadline = time.time() + DRAIN_TIMEOUT_S
            while True:
                file_batch = sparklog.committed_files(ck)
                seen = {p["batch"] for p in progress}
                if len(file_batch) == len(schedule) + 1 and set(file_batch.values()) <= seen:
                    break
                if time.time() > deadline or q.exception() is not None:
                    break
                time.sleep(0.1)
            q.stop()
        finally:
            if lander.poll() is None:
                lander.kill()
            lander.wait()
            spark.streams.removeListener(listener)
        with open(manifest) as fh:
            landed = {
                f["name"]: {"due": t0 + gen.due_from_name(f["name"]), "landed": f["landed"]}
                for f in json.load(fh)
            }
        lateness = max((f["landed"] - f["due"] for f in landed.values()), default=0.0)
        landed = {k: v for k, v in landed.items() if k in measured}
        file_batch = {
            k: v for k, v in sparklog.committed_files(ck).items()
            if v in {p["batch"] for p in progress}
        }
        samples = sparklog.freshness_samples(progress, file_batch, landed)
        sched_batches = {s["batch"] for s in samples}
        batches = [p for p in progress if p["batch"] in sched_batches]
        end = max((p["end"] for p in batches), default=time.time())
        fresh = [s["fresh"] for s in samples]

        # the progress's numInputRows counts every scan of the batch (the
        # foreachBatch body reads it several times), so count committed files
        files_per_batch = Counter(file_batch.values())
        res = Result(
            attempted=len(measured),
            failed=len(measured) - len(samples),
            e2e={
                # the measured files' ticks over the time from the window's
                # start to the commit of the last of them: the file count is
                # fixed, so only the last batch's phase moves it (a slope
                # over commit times would also follow the Poisson clustering)
                "rows_per_s": len(samples) * gen.TICKS_PER_FILE / (end - t0 - RAMP_S),
                "fresh_p50_s": quantile(fresh, 0.5),
                "fresh_p90_s": quantile(fresh, 0.9),
            },
            windows=[(t0 + RAMP_S, end)],
        )
        res.fresh_note = (f"n={len(samples)} files ({len(samples) // 10} beyond p90), "
                          f"generator lateness max {lateness * 1000:.1f} ms")
        res.notes.append("batches (files, trigger ms): " + ", ".join(
            f"{files_per_batch[p['batch']]}/{p['ms'].get('triggerExecution', 0)}" for p in batches))
        layer = res.layer
        layer["generator.lateness_max_ms"] = lateness * 1000
        layer["stream.batches"] = len(batches)
        layer["stream.rows_per_batch_p50"] = median(
            files_per_batch[p["batch"]] * gen.TICKS_PER_FILE for p in batches)
        layer["stream.wait_ms_p50"] = median(s["wait"] * 1000 for s in samples)
        for phase, key in zip(sparklog.PHASES, (
            "latest_offset", "get_batch", "query_planning", "add_batch", "wal_commit",
            "commit_offsets",
        )):
            layer[f"stream.{key}_ms_p50"] = median(p["ms"].get(phase, 0) for p in batches)
        trig = [p["ms"].get("triggerExecution", 0) for p in batches]
        layer["stream.trigger_ms_p50"] = quantile(trig, 0.5)
        layer["stream.trigger_ms_p90"] = quantile(trig, 0.9)

        self.committed = [os.path.join(src, name) for name in sparklog.committed_files(ck)]
        self.target = target
        return res

    def finish(self, res):
        check, control = oracle.check_realtime(self.committed, self.target)
        res.checks.append(check)
        res.controls_ok = control


class HistoryDaily(Workload):
    name = "history_daily"

    def prepare(self):
        self.raw = os.path.join(self.work, "raw")
        self.info = gen.history_inputs(self.seed, self.traffic, self.raw)
        self.rows = self.info.raw_rows
        self.preseed = gen.warehouse_preseed(self.seed, self.traffic)
        self.warm_raw = os.path.join(self.work, "warm_raw")
        gen.history_inputs(self.seed + 1, self.traffic, self.warm_raw)
        self.warm_preseed = gen.warehouse_preseed(self.seed + 1, self.traffic)
        self.expected = oracle.history_expected(self.raw, self.preseed)

    def _run(self, spark, raw, out, wh):
        from real_time_stock_market_data_pipeline__spark import jobs

        return jobs.historical_pipeline(
            spark, raw, out, wh, symbol_col=SYMBOL, price_col=PRICE, id_col=ID
        )

    def warm(self, spark, cycle):
        for k in range(HISTORY_WARM_RUNS):
            d = os.path.join(self.work, f"warm{cycle}-{k}")
            gen.write_warehouse(self.warm_preseed, os.path.join(d, "wh"))
            run = self._run(spark, self.warm_raw, os.path.join(d, "out"), os.path.join(d, "wh"))
            if not run.ok:
                raise RuntimeError(f"warm-up historical_pipeline failed: {run.results}")

    def measure(self, spark):
        """Reset the warehouse and output (untimed), run the pipeline
        (timed), check its output (untimed); ``ceil(seconds / REP_S)``
        times, about the run length. The count is fixed by ``--seconds``
        alone: stopping on elapsed time made it differ between runs, and
        since later runs are faster (JIT), the median moved with it.
        ``rows_per_s`` is the input rows over the median wall."""
        out = os.path.join(self.work, "out")
        wh = os.path.join(self.work, "wh")
        runs, walls, windows, checks = [], [], [], []
        for _ in range(max(1, math.ceil(self.seconds / REP_S))):
            gen.write_warehouse(self.preseed, wh)
            shutil.rmtree(out, ignore_errors=True)
            t = time.time()
            runs.append(self._run(spark, self.raw, out, wh))
            windows.append((t, time.time()))
            walls.append(windows[-1][1] - t)
            if runs[-1].ok:
                checks.append(oracle.check_history(self.expected, out, wh))
        layer: dict[str, float] = {}
        res = Result(
            attempted=len(runs),
            failed=_step_metrics(runs, layer),
            e2e={"rows_per_s": self.rows / median(walls)},
            layer=layer,
            windows=windows,
            checks=[c for c, _ in checks],
            controls_ok=bool(checks) and all(ok for _, ok in checks),
        )
        res.notes.append(f"input {self.rows} ticks in {self.info.raw_files} files "
                         f"({self.info.duplicates} re-delivered)")
        res.notes.append("pipeline runs (s): " + ", ".join(f"{w:.3f}" for w in walls))
        return res


class CorpusBuild(Workload):
    name = "corpus_build"

    def prepare(self):
        self.docs = os.path.join(self.work, "docs", "documents.parquet")
        self.rows = gen.corpus_docs(self.seed, self.traffic.corpus_docs, self.docs)
        self.input_ids = set(range(self.rows))
        self.warm_docs = os.path.join(self.work, "warm_docs", "documents.parquet")
        gen.corpus_docs(self.seed + 1, self.traffic.corpus_docs, self.warm_docs)

    def warm(self, spark, cycle):
        from real_time_stock_market_data_pipeline__spark import jobs

        run = jobs.corpus_pipeline(spark, self.warm_docs, os.path.join(self.work, f"warm{cycle}"))
        if not run.ok:
            raise RuntimeError(f"warm-up corpus_pipeline failed: {run.results}")

    def measure(self, spark):
        """Clear the output (untimed), run the pipeline (timed), check
        what it wrote (untimed); ``ceil(seconds / CORPUS_REP_S)`` times,
        a count fixed by ``--seconds`` as in ``history_daily``.
        ``rows_per_s`` is the input docs over the median wall."""
        from real_time_stock_market_data_pipeline__spark import jobs

        out = os.path.join(self.work, "out")
        runs, walls, windows, checks = [], [], [], []
        for _ in range(max(1, math.ceil(self.seconds / CORPUS_REP_S))):
            shutil.rmtree(out, ignore_errors=True)
            t = time.time()
            runs.append(jobs.corpus_pipeline(spark, self.docs, out))
            windows.append((t, time.time()))
            walls.append(windows[-1][1] - t)
            if runs[-1].ok:
                checks.append(oracle.check_corpus(self.input_ids, out))
        layer: dict[str, float] = {}
        res = Result(
            attempted=len(runs),
            failed=_step_metrics(runs, layer),
            e2e={"rows_per_s": self.rows / median(walls)},
            layer=layer,
            windows=windows,
            checks=[c for c, _ in checks],
            controls_ok=bool(checks) and all(ok for _, ok in checks),
        )
        res.notes.append(f"input {self.rows} docs; funnel: " + ", ".join(
            f"{r.name}={r.value}" for r in runs[0].results
            if isinstance(r.value, int) and not isinstance(r.value, bool)))
        res.notes.append("pipeline runs (s): " + ", ".join(f"{w:.3f}" for w in walls))
        return res


WORKLOADS = {w.name: w for w in (TicksLive, HistoryDaily, CorpusBuild)}
