"""Seeded input generators for the workloads.

Everything here is a pure function of the seed and the ``Traffic``: the
same seed gives byte-identical tables and the same landing schedule. Column names follow
the ``events`` test table (``event_id``, ``ts``, ``event_type``,
``value``) so the registered DuckDB oracles run on the generated ticks
unchanged.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The reference's traffic (BASELINE.md): its producer emits one tick for
# each of 8 symbols every 2 s, and its consumer lands a file every 100
# messages. The offered wall-clock rate and the input sizes are values in
# BENCHMARK.json's command (see ``Traffic``).
REF_TICKS_PER_MARKET_S = 4  # 8 symbols, one tick each per 2 s
TICKS_PER_FILE = 100        # the reference consumer's flush size
ZIPF_S = 1.0                # assumed: the reference's producer is uniform
LIVE_MARKET_T0_US = 1_709_251_200_000_000  # 2024-03-01T00:00:00Z

# history_daily: landing layout year=/month=/day=/SYMBOL.parquet, one file
# per (symbol, trading day), ticks inside a 14:30-21:00 UTC session.
HIST_DUP_SHARE = 0.02
HIST_DAY0 = np.datetime64("2024-01-02")
HIST_PRESEED_DAYS = 20
SESSION_OPEN_US = (14 * 3600 + 30 * 60) * 1_000_000
SESSION_US = int(6.5 * 3600) * 1_000_000


@dataclass(frozen=True)
class Traffic:
    """Offered rate and input sizes, as BENCHMARK.json's command sets them.

    ``live_ticks_per_s`` keeps the reference's 4 ticks per market second
    by running the market clock ``live_ticks_per_s / 4`` times faster
    than the wall clock; with 100-tick files it also fixes the file rate.
    """

    live_ticks_per_s: int
    live_symbols: int
    history_symbols: int
    history_days: int
    history_ticks_per_file: int
    corpus_docs: int

    @property
    def files_per_s(self) -> float:
        return self.live_ticks_per_s / TICKS_PER_FILE

    @property
    def market_speedup(self) -> float:
        return self.live_ticks_per_s / REF_TICKS_PER_MARKET_S


TS_TYPE = pa.timestamp("us")


def zipf_weights(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def symbol_names(n: int) -> list[str]:
    return [f"T{k:03d}" for k in range(n)]


def ticks_table(event_id, ts_us, symbols, values) -> pa.Table:
    return pa.table(
        {
            "event_id": pa.array(event_id, pa.int64()),
            "ts": pa.array(ts_us, pa.int64()).cast(TS_TYPE),
            "event_type": pa.array(symbols, pa.string()),
            "value": pa.array(values, pa.float64()),
        }
    )


def write_table(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, coerce_timestamps="us")


# --------------------------------------------------------------------------
# ticks_live
# --------------------------------------------------------------------------


@dataclass
class TickFile:
    name: str
    due_s: float  # seconds after the schedule start
    table: pa.Table


def _live_file(rng, tr: Traffic, index: int, due_s: float, prev_s: float,
               first_id: int) -> TickFile:
    names = np.array(symbol_names(tr.live_symbols))
    sym = rng.choice(tr.live_symbols, TICKS_PER_FILE, p=zipf_weights(tr.live_symbols))
    lo = LIVE_MARKET_T0_US + int(prev_s * tr.market_speedup * 1e6)
    hi = LIVE_MARKET_T0_US + int(due_s * tr.market_speedup * 1e6)
    ts = np.sort(rng.integers(lo, max(hi, lo + 1), TICKS_PER_FILE))
    base = 20.0 + 10.0 * np.arange(tr.live_symbols)
    px = np.round(base[sym] * (1.0 + 0.01 * rng.standard_normal(TICKS_PER_FILE)), 2)
    table = ticks_table(np.arange(first_id, first_id + TICKS_PER_FILE), ts, names[sym], px)
    due_us = int(round(due_s * 1e6))
    return TickFile(f"t{index:05d}_due{due_us:012d}.parquet", due_s, table)


def live_initial_file(seed: int, tr: Traffic) -> TickFile:
    """The file landed before the query starts: the stream's schema probe
    reads it. Its ticks lie just before the schedule's market clock."""
    rng = np.random.default_rng([seed, 0])
    f = _live_file(rng, tr, 0, 0.0, -1.0 / tr.files_per_s, 0)
    return TickFile("t00000_init.parquet", 0.0, f.table)


def live_schedule(seed: int, tr: Traffic, seconds: float) -> list[TickFile]:
    """Poisson file arrivals conditioned on their count: the count is
    fixed by the rate and the run length, the due times are uniform
    order statistics over ``[0, seconds)``. Each file carries the ticks
    whose market time falls between the previous file's due time and
    its own, so the market clock runs ``tr.market_speedup`` times faster
    than the wall clock."""
    rng = np.random.default_rng([seed, 1])
    n = int(round(tr.files_per_s * seconds))
    due = np.sort(rng.uniform(0.0, seconds, n))
    files, prev = [], 0.0
    for i, d in enumerate(due, start=1):
        files.append(_live_file(rng, tr, i, float(d), prev, i * TICKS_PER_FILE))
        prev = float(d)
    return files


def due_from_name(name: str) -> float | None:
    """Seconds after the schedule start that a landed file was due, or
    None for the pre-landed initial file."""
    stem = os.path.basename(name).split(".")[0]
    if "_due" not in stem:
        return None
    return int(stem.split("_due")[1]) / 1e6


def warm_ticks(seed: int, tr: Traffic, directory: str, files: int) -> None:
    """Tick files for the stream warm-up, separate from the measured
    input: the same shape, on a market clock a day before it."""
    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    day = -86_400.0 / tr.market_speedup
    step = 1.0 / tr.files_per_s
    for i in range(files):
        f = _live_file(rng, tr, i + 1, day + (i + 1) * step, day + i * step,
                       10_000_000 + i * TICKS_PER_FILE)
        write_table(f.table, os.path.join(directory, f.name))


# --------------------------------------------------------------------------
# history_daily
# --------------------------------------------------------------------------


@dataclass
class HistoryInput:
    raw_rows: int
    raw_files: int
    duplicates: int


def trading_days(start: np.datetime64, count: int) -> np.ndarray:
    """``count`` weekdays from ``start`` on (negative: the weekdays before it)."""
    if count >= 0:
        return np.busday_offset(start, np.arange(count), roll="forward")
    return np.busday_offset(start, np.arange(count, 0), roll="forward")


def history_inputs(seed: int, tr: Traffic, raw_dir: str,
                   dup_share: float = HIST_DUP_SHARE) -> HistoryInput:
    """Write the landed daily tick files, ``tr.history_ticks_per_file``
    ticks per (symbol, trading day). Each file also carries re-delivered
    copies of some of its ticks: same symbol and event time, a later
    ``event_id`` and an amended price, so keep-last dedup decides which
    price survives."""
    rng = np.random.default_rng([seed, 3])
    names = symbol_names(tr.history_symbols)
    n = tr.history_ticks_per_file
    k = int(round(n * dup_share))
    next_id, rows, files, dups = 0, 0, 0, 0
    dup_id = 10 * n * tr.history_symbols * tr.history_days  # later than any original
    for day in trading_days(HIST_DAY0, tr.history_days):
        y, m, dd = (int(x) for x in str(day).split("-"))
        part = os.path.join(raw_dir, f"year={y}", f"month={m}", f"day={dd}")
        os.makedirs(part, exist_ok=True)
        open_us = day.astype("datetime64[us]").astype(np.int64) + SESSION_OPEN_US
        for s, name in enumerate(names):
            ts = np.sort(rng.integers(open_us, open_us + SESSION_US, n))
            px = np.round(20.0 + 5.0 * s + rng.standard_normal(n).cumsum() * 0.05, 2)
            ids = np.arange(next_id, next_id + n)
            next_id += n
            pick = rng.choice(n, k, replace=False)
            ids = np.concatenate([ids, np.arange(dup_id, dup_id + k)])
            dup_id += k
            ts = np.concatenate([ts, ts[pick]])
            px = np.concatenate([px, np.round(px[pick] + 0.05, 2)])
            table = ticks_table(ids, ts, [name] * len(ids), px)
            write_table(table, os.path.join(part, f"{name}.parquet"))
            rows += len(ids)
            files += 1
            dups += k
    return HistoryInput(rows, files, dups)


def warehouse_preseed(seed: int, tr: Traffic) -> pa.Table:
    """Warehouse rows an earlier daily run left behind: full rows for
    the ``HIST_PRESEED_DAYS`` trading days before the load, plus stale
    partial rows for the load's first day that the load must replace."""
    rng = np.random.default_rng([seed, 4])
    symbols = tr.history_symbols
    dates = list(trading_days(HIST_DAY0, -HIST_PRESEED_DAYS)) + [HIST_DAY0]
    sym = np.repeat(symbol_names(symbols), len(dates))
    date = np.tile(np.array(dates, "datetime64[D]"), symbols)
    n = len(sym)
    o = np.round(rng.uniform(20, 320, n), 4)
    c = np.round(o * (1 + 0.02 * rng.standard_normal(n)), 4)
    hi = np.round(np.maximum(o, c) * 1.01, 4)
    lo = np.round(np.minimum(o, c) * 0.99, 4)
    return pa.table(
        {
            "symbol": pa.array(sym, pa.string()),
            "date": pa.array(date, pa.date32()),
            "daily_open": pa.array(o),
            "daily_high": pa.array(hi),
            "daily_low": pa.array(lo),
            "daily_close": pa.array(c),
            "daily_volume": pa.array(rng.integers(100, 5000, n), pa.int64()),
            "daily_change": pa.array(np.round((c - o) / o * 100, 4)),
        }
    )


def write_warehouse(table: pa.Table, path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    write_table(table, os.path.join(path, "part-00000.parquet"))


# --------------------------------------------------------------------------
# corpus_build
# --------------------------------------------------------------------------

# The shape of the repo's ``documents`` test table: docs of 10-90 words
# drawn uniformly from a small vocabulary that holds English stopwords,
# five languages and five sources. Copies make the dedup stages work.
CORPUS_VOCAB = (
    "the a and of to is in that spark stream window merge table column vector "
    "value data small big join filter group hash customer sort order slow fast "
    "line part row agg key query scan batch tick price volume symbol trade "
    "market close open high low minute daily index chunk token pack split "
    "train sample dedup shard"
).split()
CORPUS_LANGS = ("en", "es", "fr", "de", "zh")
CORPUS_EXACT_SHARE = 0.10   # exact copies of another doc
CORPUS_NEAR_SHARE = 0.10    # copies with one to three words replaced
CORPUS_SHORT_SHARE = 0.03   # 2-4 word docs the quality gate drops


def corpus_docs(seed: int, n_docs: int, path: str) -> int:
    """Write a seeded corpus of ``n_docs`` documents to one parquet file
    (columns of the ``documents`` test table) and return its row count.
    Originals come first; exact and word-edited copies of earlier
    originals and short low-quality docs follow, shuffled into the id
    order so that a copy may precede its original."""
    rng = np.random.default_rng([seed, 5])
    n_exact = int(round(n_docs * CORPUS_EXACT_SHARE))
    n_near = int(round(n_docs * CORPUS_NEAR_SHARE))
    n_short = int(round(n_docs * CORPUS_SHORT_SHARE))
    n_orig = n_docs - n_exact - n_near - n_short
    vocab = np.array(CORPUS_VOCAB)
    texts = [list(rng.choice(vocab, rng.integers(10, 91))) for _ in range(n_orig)]
    for src in rng.integers(0, n_orig, n_exact):
        texts.append(list(texts[src]))
    for src in rng.integers(0, n_orig, n_near):
        words = list(texts[src])
        for pos in rng.choice(len(words), rng.integers(1, 4), replace=False):
            words[pos] = str(rng.choice(vocab))
        texts.append(words)
    texts += [list(rng.choice(vocab, rng.integers(2, 5))) for _ in range(n_short)]
    order = rng.permutation(n_docs)
    text = [" ".join(texts[i]) for i in order]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array([CORPUS_LANGS[i] for i in rng.integers(0, 5, n_docs)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }), path)
    return n_docs
