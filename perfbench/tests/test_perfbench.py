"""The benchmark's own tests: seeded inputs are reproducible, span
self-time arithmetic is right, the listener → commit log → file mapping
gives every committed file exactly one freshness sample, and the output
comparison and the corpus invariants count wrong rows exactly. No Spark
session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os

import pandas as pd
import pytest

from perfbench import gen, oracle, sparklog
from perfbench.trace import Span, self_times, union_length

TRAFFIC = gen.Traffic(live_ticks_per_s=1000, live_symbols=8, history_symbols=5,
                      history_days=2, history_ticks_per_file=200, corpus_docs=200)


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            h.update(os.path.relpath(os.path.join(d, n), root).encode())
            with open(os.path.join(d, n), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


# ---------------------------------------------------------------- inputs


def test_live_schedule_same_seed_same_inputs():
    a, b = gen.live_schedule(7, TRAFFIC, 3), gen.live_schedule(7, TRAFFIC, 3)
    assert [f.name for f in a] == [f.name for f in b]
    assert all(x.table.equals(y.table) for x, y in zip(a, b))
    init = gen.live_initial_file(7, TRAFFIC)
    assert init.table.equals(gen.live_initial_file(7, TRAFFIC).table)


def test_live_schedule_shape():
    files = gen.live_schedule(7, TRAFFIC, 3)
    assert len(files) == TRAFFIC.files_per_s * 3
    due = [f.due_s for f in files]
    assert due == sorted(due) and 0 <= due[0] and due[-1] < 3
    assert [gen.due_from_name(f.name) for f in files] == pytest.approx(due, abs=1e-6)
    assert gen.due_from_name(gen.live_initial_file(7, TRAFFIC).name) is None
    ids = [i for f in files for i in f.table.column("event_id").to_pylist()]
    assert len(ids) == len(set(ids)) == gen.TICKS_PER_FILE * len(files)
    other = gen.live_schedule(8, TRAFFIC, 3)
    assert [f.due_s for f in other] != due
    # the market clock: 4 ticks per market second, as the reference's producer
    ts = [t.value for f in files for t in f.table.column("ts")]
    market_s = (max(ts) - min(ts)) / 1e6
    assert len(ts) / market_s == pytest.approx(gen.REF_TICKS_PER_MARKET_S, rel=0.1)
    symbols = {s for f in files for s in f.table.column("event_type").to_pylist()}
    assert len(symbols) == TRAFFIC.live_symbols


def test_history_same_seed_same_files(tmp_path):
    a = gen.history_inputs(3, TRAFFIC, str(tmp_path / "a"))
    b = gen.history_inputs(3, TRAFFIC, str(tmp_path / "b"))
    c = gen.history_inputs(4, TRAFFIC, str(tmp_path / "c"))
    assert a == b and a.raw_files == 10 and a.raw_rows == 10 * 200 + a.duplicates
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert gen.warehouse_preseed(3, TRAFFIC).equals(gen.warehouse_preseed(3, TRAFFIC))


def test_corpus_same_seed_same_docs(tmp_path):
    paths = [str(tmp_path / f"{k}.parquet") for k in "abc"]
    for path, seed in zip(paths, (3, 3, 4)):
        assert gen.corpus_docs(seed, TRAFFIC.corpus_docs, path) == TRAFFIC.corpus_docs
    a, b, c = (pd.read_parquet(p) for p in paths)
    assert a.equals(b) and not a.equals(c)
    assert a["doc_id"].tolist() == list(range(TRAFFIC.corpus_docs))
    # the exact copies are there for exact dedup to remove
    assert a["text"].duplicated().sum() >= TRAFFIC.corpus_docs * gen.CORPUS_EXACT_SHARE * 0.9


# ---------------------------------------------------------------- spans


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "run", "main")


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4)
    assert union_length([(0, 10), (2, 3)]) == pytest.approx(10)


def test_self_time_subtracts_children_once_and_clips():
    spans = [
        _span(1, 0, 10),
        _span(2, 1, 3, parent=1),
        _span(3, 2, 5, parent=1),   # overlaps span 2 (another thread)
        _span(4, 9, 12, parent=1),  # runs past its parent: clipped to 9..10
        _span(5, 1.5, 2.5, parent=2),
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - (4 + 1))
    assert st[2] == pytest.approx(2 - 1)
    assert st[3] == pytest.approx(3)
    assert st[4] == pytest.approx(3)
    assert st[5] == pytest.approx(1)


# ---------------------------------------------------------------- freshness


def _write_source_log(ck, name, entries):
    d = os.path.join(ck, "sources", "0")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name), "w") as fh:
        fh.write("v1\n")
        for path, batch in entries:
            fh.write(json.dumps({"path": f"file://{path}", "timestamp": 0, "batchId": batch}) + "\n")


def test_every_committed_file_gets_exactly_one_sample(tmp_path):
    ck = str(tmp_path)
    init = "/src/t00000_init.parquet"
    sched = [f"/src/t{i:05d}_due{i * 100_000:012d}.parquet" for i in range(1, 7)]
    _write_source_log(ck, "0", [(init, 0), (sched[0], 0)])
    _write_source_log(ck, "1", [(sched[1], 1), (sched[2], 1)])
    # a compacted log repeats every earlier entry
    _write_source_log(ck, "2.compact", [(init, 0), (sched[0], 0), (sched[1], 1),
                                        (sched[2], 1), (sched[3], 2)])
    _write_source_log(ck, "3", [(sched[4], 3), (sched[5], 3)])
    file_batch = sparklog.committed_files(ck)
    assert sorted(file_batch) == sorted(os.path.basename(p) for p in [init] + sched)

    t0 = 1000.0
    files = {}
    for p in sched:
        name = os.path.basename(p)
        files[name] = {"due": t0 + gen.due_from_name(name), "landed": t0 + gen.due_from_name(name) + 0.01}
    progress = [{"batch": b, "start": t0 + b, "end": t0 + b + 0.5, "ms": {}} for b in range(4)]
    samples = sparklog.freshness_samples(progress, file_batch, files)
    assert sorted(s["name"] for s in samples) == sorted(files)
    by_name = {s["name"]: s for s in samples}
    s1 = by_name[os.path.basename(sched[1])]
    assert s1["batch"] == 1
    assert s1["fresh"] == pytest.approx(progress[1]["end"] - files[s1["name"]]["due"])
    assert s1["wait"] == pytest.approx(progress[1]["start"] - files[s1["name"]]["landed"])

    with pytest.raises(KeyError):  # a committed batch without progress
        sparklog.freshness_samples(progress[:3], file_batch, files)


# ---------------------------------------------------------------- oracle


def test_wrong_rows_counts_missing_extra_different_and_duplicates():
    exp = pd.DataFrame({"k": [1, 2, 3, 4], "v": [1.0, 2.0, None, 4.0], "n": [1, 1, 1, 1]})
    assert oracle.wrong_rows(exp, exp, ["k"]) == 0
    act = pd.DataFrame({"k": [1, 2, 3, 5, 5], "v": [1.0, 2.5, None, 5.0, 5.0], "n": [1, 1, 1, 1, 1]})
    # missing 4, extra 5 (plus its duplicate), different 2
    assert oracle.wrong_rows(exp, act, ["k"]) == 4
    assert oracle.negative_control(exp, ["k"])


def test_expected_warehouse_is_a_keyed_upsert():
    pre = pd.DataFrame({"symbol": ["a", "a", "b"], "date": [1, 2, 2], "x": [1.0, 2.0, 3.0]})
    load = pd.DataFrame({"symbol": ["a", "c"], "date": [2, 2], "x": [9.0, 7.0]})
    got = oracle.expected_warehouse(pre, load).sort_values(["symbol", "date"])
    assert got.values.tolist() == [["a", 1, 1.0], ["a", 2, 9.0], ["b", 2, 3.0], ["c", 2, 7.0]]


# ---------------------------------------------------------------- event log


def test_rollup_counts_window_jobs_and_driver_only_time():
    def job(i, start, end, desc):
        return [
            {"Event": "SparkListenerJobStart", "Job ID": i, "Submission Time": start,
             "Stage Infos": [{"Stage ID": i}], "Properties": {"spark.job.description": desc}},
            {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": i}},
            {"Event": "SparkListenerTaskEnd", "Stage ID": i,
             "Task Info": {"Launch Time": start, "Finish Time": end},
             "Task Metrics": {"Executor CPU Time": 5e8, "JVM GC Time": 10,
                              "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                              "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 3}},
            {"Event": "SparkListenerJobEnd", "Job ID": i, "Completion Time": end},
        ]

    events = (job(0, 500, 900, "warm-up") + job(1, 2000, 3000, "x [span 4]")
              + job(2, 2500, 3500, "y [span 4]") + job(3, 6000, 6500, ""))
    roll = sparklog.rollup(events, [(1.0, 5.0), (5.5, 7.0)])
    assert roll["jobs"] == 3 and roll["stages"] == 3 and roll["tasks"] == 3
    assert roll["task_s"] == pytest.approx(2.5)
    assert roll["cpu_s"] == pytest.approx(1.5)
    assert roll["shuffle_write_bytes"] == 21 and roll["spill_bytes"] == 9
    # windows cover 5.5 s; jobs cover 2.0-3.5 and 6.0-6.5
    assert roll["driver_only_s"] == pytest.approx(5.5 - 2.0)
    assert roll["per_span"][4]["jobs"] == 2 and roll["per_span"][None]["jobs"] == 1


# ---------------------------------------------------------------- corpus


def _corpus():
    corpus = pd.DataFrame({"doc_id": [0, 1, 2, 3], "split": ["train", "train", "val", "train"],
                           "text": ["a b c", "d e", "f g h i", "j"]})
    tokens = corpus["text"].map(oracle.ws_tokens)
    packs = corpus[["split", "doc_id"]].assign(ws_tokens=tokens)
    prior = packs.groupby("split")["ws_tokens"].cumsum() - packs["ws_tokens"]
    return corpus, packs.assign(bin_id=prior // 4, bin_offset=prior % 4)


def test_corpus_invariants_count_each_bad_row_once():
    corpus, packs = _corpus()
    ids = set(range(10))
    assert oracle.corpus_violations(ids, corpus, packs, budget=4) == 0
    assert packs["bin_id"].tolist() == [0, 0, 0, 1]  # train: 0, 3, 5 tokens before
    bad = corpus.copy()
    bad.loc[1, "text"] = "a b c"        # exact text of an earlier survivor
    bad.loc[3, "doc_id"] = 42           # absent from the input, and its pack row orphaned
    # row 1, row 3 (absent id, no pack row) and the orphaned pack row of doc 3
    assert oracle.corpus_violations(ids, bad, packs, budget=4) == 3
    wrong_pack = packs.assign(bin_offset=packs["bin_offset"].where(packs["doc_id"] != 2, 1))
    assert oracle.corpus_violations(ids, corpus, wrong_pack, budget=4) == 1
    two_splits = pd.concat([corpus, corpus.iloc[[0]].assign(split="test")], ignore_index=True)
    # doc 0 in train and test: both rows; the test row also has no pack row
    assert oracle.corpus_violations(ids, two_splits, packs, budget=4) == 2
    assert oracle.corpus_negative_control(ids, corpus, packs)
