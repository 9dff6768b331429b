"""What the engine reports about itself: streaming progress (from a
``StreamingQueryListener``), the file source's commit log, and Spark's
own event log (traced runs only)."""

from __future__ import annotations

import json
import os
import statistics
from datetime import datetime

from perfbench.trace import SPAN_TAG, union_length

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def make_listener(progress: list[dict]):
    """A listener that appends one dict per micro-batch with input rows
    to ``progress``: batch id, start and end (epoch seconds) and the
    ``durationMs`` phases."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if not p.numInputRows:
                return
            start = iso_epoch(p.timestamp)
            dur = dict(p.durationMs)
            progress.append({
                "batch": p.batchId,
                "start": start,
                "end": start + dur.get("triggerExecution", 0) / 1000.0,
                "ms": dur,
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def committed_files(checkpoint: str) -> dict[str, int]:
    """File name → batch id, from the file source's metadata log
    (``sources/0``). Compacted log files repeat earlier entries; each
    entry carries its own batch id."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(log_dir):
        return out
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh.read().splitlines()[1:]:
                if line.strip():
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def freshness_samples(
    progress: list[dict],
    file_batch: dict[str, int],
    files: dict[str, dict],
) -> list[dict]:
    """One sample per committed scheduled file: ``fresh`` is the time
    from its due time to the end of the batch that committed it,
    ``wait`` the time from its landing to that batch's start.
    ``files`` maps name → {"due", "landed"}; files outside it (the
    pre-landed file) give no sample. A committed file whose batch
    reported no progress raises: the mapping must be total."""
    by_batch = {p["batch"]: p for p in progress}
    samples = []
    for name, batch in sorted(file_batch.items()):
        f = files.get(name)
        if f is None:
            continue
        p = by_batch[batch]
        samples.append({
            "name": name,
            "batch": batch,
            "fresh": p["end"] - f["due"],
            "wait": p["start"] - f["landed"],
        })
    return samples


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]); 0.0 for no values."""
    if not values:
        return 0.0
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


def read_event_log(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def rollup(events: list[dict], windows: list[tuple[float, float]]) -> dict:
    """Spark execution inside ``windows`` (epoch seconds): jobs submitted
    in them, their stages and tasks, task/CPU/GC seconds, shuffle-write
    and spill bytes, job latency, driver-only time (window wall with no
    job running) and jobs/task-seconds per launching span."""

    def inside(ms: float) -> bool:
        return any(a * 1000 <= ms <= b * 1000 for a, b in windows)

    jobs, stage_job = {}, {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart" and inside(e["Submission Time"]):
            desc = (e.get("Properties") or {}).get("spark.job.description") or ""
            m = SPAN_TAG.search(desc)
            jobs[e["Job ID"]] = {"start": e["Submission Time"], "end": None,
                                 "span": int(m.group(1)) if m else None}
            for st in e.get("Stage Infos", []):
                stage_job.setdefault(st["Stage ID"], e["Job ID"])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "task_s": 0.0, "cpu_s": 0.0,
           "gc_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    per_span: dict[int | None, dict] = {}
    for j in jobs.values():
        row = per_span.setdefault(j["span"], {"jobs": 0, "task_s": 0.0})
        row["jobs"] += 1
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerStageCompleted":
            if e["Stage Info"]["Stage ID"] in stage_job:
                out["stages"] += 1
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_job:
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            task_s = (info["Finish Time"] - info["Launch Time"]) / 1000.0
            out["tasks"] += 1
            out["task_s"] += task_s
            out["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            out["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            out["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            span = jobs[stage_job[e["Stage ID"]]]["span"]
            per_span.setdefault(span, {"jobs": 0, "task_s": 0.0})["task_s"] += task_s
    done = [(j["start"] / 1000, j["end"] / 1000) for j in jobs.values() if j["end"]]
    busy = union_length([
        (max(s, a), min(e, b)) for s, e in done for a, b in windows if min(e, b) > max(s, a)
    ])
    out["job_ms_p50"] = median((e - s) * 1000 for s, e in done)
    out["driver_only_s"] = sum(b - a for a, b in windows) - busy
    out["per_span"] = per_span
    return out
