"""Output checks for the workloads.

The market workloads are checked against the package's registered
DuckDB oracles (``driver_queries.ORACLES``), run on the same ticks the
system committed; ``corpus_build`` against invariants every correct
corpus build keeps. Each check counts wrong rows (missing, extra,
different or breaking an invariant) against the expected row count,
and each has a negative control: one injected wrong row must be
detected.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

REALTIME_KEYS = ["symbol", "window_start"]
DAILY_KEYS = ["symbol", "date"]


@dataclass
class Check:
    name: str
    expected_rows: int
    wrong_rows: int


def read_parquet_dir(path: str, drop: tuple[str, ...] = ()) -> pa.Table:
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    keep = [c for c in table.column_names if c not in drop]
    return table.select(keep)


def to_frame(table: pa.Table) -> pd.DataFrame:
    """Arrow → pandas with timestamps as epoch microseconds and dates as
    day ordinals, so both engines' temporal types compare exactly."""
    cols = {}
    for name in table.column_names:
        col = table[name]
        if pa.types.is_timestamp(col.type):
            col = pc.cast(col.cast(pa.timestamp("us", tz=col.type.tz)), pa.int64())
        elif pa.types.is_date(col.type):
            col = pc.cast(col.cast(pa.date32()), pa.int32())
        elif pa.types.is_dictionary(col.type):
            col = col.cast(col.type.value_type)
        cols[name] = col
    return pa.table(cols).to_pandas()


def wrong_rows(expected: pd.DataFrame, actual: pd.DataFrame, keys: list[str]) -> int:
    """Rows of ``actual`` missing from, extra to, or different from
    ``expected`` (keyed). Floats compare to 1e-9; NULL equals NULL."""
    values = [c for c in expected.columns if c not in keys]
    actual = actual[list(expected.columns)]
    dup_extra = int(actual.duplicated(keys).sum())
    actual = actual.drop_duplicates(keys)
    m = expected.merge(actual, on=keys, how="outer", suffixes=("_e", "_a"), indicator=True)
    missing = int((m["_merge"] == "left_only").sum())
    extra = int((m["_merge"] == "right_only").sum()) + dup_extra
    both = m[m["_merge"] == "both"]
    diff = np.zeros(len(both), bool)
    for c in values:
        e, a = both[f"{c}_e"], both[f"{c}_a"]
        if pd.api.types.is_float_dtype(e) or pd.api.types.is_float_dtype(a):
            e, a = e.astype(float).to_numpy(), a.astype(float).to_numpy()
            same = np.isclose(e, a, rtol=0, atol=1e-9) | (np.isnan(e) & np.isnan(a))
        else:
            same = (e.to_numpy() == a.to_numpy()) | (e.isna() & a.isna()).to_numpy()
        diff |= ~same
    return missing + extra + int(diff.sum())


def inject_one_wrong(frame: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    """Negative-control input: the expected rows with one value changed."""
    bad = frame.copy()
    col = next(c for c in bad.columns if c not in keys and pd.api.types.is_numeric_dtype(bad[c]))
    bad.loc[bad.index[0], col] = bad[col].iloc[0] + 1
    return bad


def negative_control(expected: pd.DataFrame, keys: list[str]) -> bool:
    return (
        wrong_rows(expected, expected, keys) == 0
        and wrong_rows(expected, inject_one_wrong(expected, keys), keys) == 1
    )


def _oracle(name: str, events: pa.Table) -> pd.DataFrame:
    from real_time_stock_market_data_pipeline__spark.driver_queries import ORACLES

    con = duckdb.connect()
    try:
        con.register("events", events)
        return to_frame(con.execute(ORACLES[name]).arrow())
    finally:
        con.close()


# --------------------------------------------------------------------------
# ticks_live
# --------------------------------------------------------------------------


def check_realtime(committed_files: list[str], target_path: str) -> tuple[Check, bool]:
    """``ORACLES['realtime_metrics']`` over every committed tick against
    the upsert target."""
    events = pa.concat_tables(pq.read_table(f) for f in committed_files)
    expected = _oracle("realtime_metrics", events)
    actual = to_frame(read_parquet_dir(target_path))
    check = Check("realtime_metrics", len(expected), wrong_rows(expected, actual, REALTIME_KEYS))
    return check, negative_control(expected, REALTIME_KEYS)


# --------------------------------------------------------------------------
# history_daily
# --------------------------------------------------------------------------


def keep_last(raw: pa.Table) -> pa.Table:
    """Independent keep-last dedup: per (symbol, day, event time) the
    re-delivery with the highest event_id wins."""
    con = duckdb.connect()
    try:
        con.register("raw", raw)
        return con.execute(
            "SELECT event_id, ts, event_type, value FROM raw QUALIFY row_number() "
            "OVER (PARTITION BY event_type, CAST(ts AS DATE), ts "
            "ORDER BY event_id DESC) = 1"
        ).arrow()
    finally:
        con.close()


def expected_warehouse(preseed: pd.DataFrame, daily: pd.DataFrame) -> pd.DataFrame:
    """Keyed upsert, computed independently: preseed rows whose key the
    load does not touch, plus every loaded row."""
    touched = daily[DAILY_KEYS].assign(_t=1)
    kept = preseed.merge(touched, on=DAILY_KEYS, how="left")
    kept = kept[kept["_t"].isna()].drop(columns="_t")
    return pd.concat([kept, daily[preseed.columns]], ignore_index=True)


def history_expected(raw_dir: str, preseed: pa.Table) -> tuple[pd.DataFrame, pd.DataFrame]:
    raw = read_parquet_dir(raw_dir, drop=("year", "month", "day"))
    daily = _oracle("daily_metrics", keep_last(raw))
    return daily, expected_warehouse(to_frame(preseed), daily)


def check_history(
    expected: tuple[pd.DataFrame, pd.DataFrame], output_path: str, warehouse_path: str
) -> tuple[Check, bool]:
    """The processed output and the loaded warehouse, both against the
    oracle."""
    daily, warehouse = expected
    out = to_frame(read_parquet_dir(output_path, drop=("year", "month")))
    wh = to_frame(read_parquet_dir(warehouse_path))
    wrong = wrong_rows(daily, out, DAILY_KEYS) + wrong_rows(warehouse, wh, DAILY_KEYS)
    check = Check("daily_metrics", len(daily) + len(warehouse), wrong)
    return check, negative_control(daily, DAILY_KEYS) and negative_control(warehouse, DAILY_KEYS)


# --------------------------------------------------------------------------
# corpus_build
# --------------------------------------------------------------------------

PACK_BUDGET = 512  # corpus_pipeline's token budget per pack


def ws_tokens(text: str) -> int:
    """The pipeline's whitespace token count: lowercase, trim, collapse
    whitespace, split on single spaces."""
    return len(re.sub(r"\s+", " ", text.strip().lower()).split(" "))


def corpus_violations(input_ids: set[int], corpus: pd.DataFrame, packs: pd.DataFrame,
                      budget: int = PACK_BUDGET) -> int:
    """Survivor rows that break an invariant of a correct build: an id
    absent from the input, an id in more than one row (two splits), an
    empty text, a text equal to an earlier survivor's, or a pack row
    that is missing or does not match. Pack rows follow offset packing:
    per split in ``doc_id`` order, a doc's ``bin_id`` and ``bin_offset``
    are the running token sum before it, divided by and modulo the
    budget, so no pack starts more than ``budget`` tokens in. Pack rows
    with no survivor count as extra."""
    packs = packs.sort_values(["split", "doc_id"]).copy()
    prior = packs.groupby("split")["ws_tokens"].cumsum() - packs["ws_tokens"]
    packs["_ok"] = (packs["bin_id"] == prior // budget) & (packs["bin_offset"] == prior % budget)
    packs = packs.drop_duplicates(["split", "doc_id"], keep=False)
    m = corpus.merge(packs[["split", "doc_id", "ws_tokens", "_ok"]], on=["split", "doc_id"],
                     how="outer", indicator=True)
    extra_packs = int((m["_merge"] == "right_only").sum())
    m = m[m["_merge"] != "right_only"]
    text = m["text"].fillna("")
    bad = (
        ~m["doc_id"].isin(input_ids)
        | m["doc_id"].duplicated(keep=False)
        | (text.str.strip() == "")
        | text.duplicated(keep="first")
        | (m["_merge"] == "left_only")
        | ~m["_ok"].eq(True)
        | (m["ws_tokens"] != text.map(ws_tokens))
    )
    return int(bad.sum()) + extra_packs


def corpus_negative_control(input_ids: set[int], corpus: pd.DataFrame,
                            packs: pd.DataFrame) -> bool:
    """A copy of the first survivor under an id the input never had,
    appended last, must count as exactly one more wrong row."""
    base = corpus_violations(input_ids, corpus, packs)
    bad = corpus.iloc[:1].assign(doc_id=max(input_ids) + 1)
    return corpus_violations(input_ids, pd.concat([corpus, bad], ignore_index=True),
                             packs) == base + 1


def check_corpus(input_ids: set[int], out_dir: str) -> tuple[Check, bool]:
    """The written corpus and packs against the invariants."""
    corpus = to_frame(read_parquet_dir(f"{out_dir}/corpus"))[["doc_id", "split", "text"]]
    packs = to_frame(read_parquet_dir(f"{out_dir}/packs"))
    wrong = corpus_violations(input_ids, corpus, packs)
    check = Check("corpus_invariants", len(corpus) + len(packs), wrong)
    return check, corpus_negative_control(input_ids, corpus, packs)
