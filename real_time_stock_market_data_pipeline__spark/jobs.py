"""Runnable job entry points — the engine equivalents of the
reference's two spark-submit applications, composed from library
operators instead of copy-pasted scripts:

- ``batch_daily_job``  ≙ `src/spark/jobs/spark_batch_processor.py` +
  `src/snowflake/load_to_snowflake.py`: partitioned scan → dedup →
  daily OHLCV metrics → partitioned write → keyed warehouse upsert.
- ``stream_job``       ≙ `src/spark/jobs/spark_stream_processor.py` +
  `realtime_load_to_snowflake.py`: file/Kafka stream → watermark →
  dual-window metrics → checkpointed idempotent upsert.

Orchestration stays external and thin (SURVEY.md §3.3): one
parameterized Spark application per run — an Airflow task runs
``python -m real_time_stock_market_data_pipeline__spark.jobs batch ...``
instead of docker-exec'ing a hand-wired script chain.
"""

from __future__ import annotations

import argparse
import logging
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline__spark import sinks
from real_time_stock_market_data_pipeline__spark.operators import dedup, ohlcv
from real_time_stock_market_data_pipeline__spark.session import get_spark
from real_time_stock_market_data_pipeline__spark.sources.registry import (
    read_partitioned,
)

logger = logging.getLogger(__name__)


def batch_daily_job(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    warehouse_path: str | None = None,
    fmt: str = "parquet",
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "price",
    id_col: str | None = None,
    volume_col: str | None = None,
    year: int | None = None,
    month: int | None = None,
    day: int | None = None,
) -> int:
    """The reference's batch pipeline (`spark_batch_processor.main`):
    scan (partition-pruned when a run date is given) → keep-last dedup
    per (symbol, day) → daily metrics → partitioned parquet →
    optional warehouse upsert keyed (symbol, date). Returns the number
    of daily rows written.

    The daily frame is materialised once (``localCheckpoint``) and both
    sinks read that one copy: the input is listed and scanned, and the
    dedup window and the aggregate are shuffled, once per run instead
    of once per sink — the reference runs its whole job twice to log a
    count (`spark_batch_processor.py:75-85`). The returned count is one
    small job over the materialised rows, not a re-read of the output.
    The input gate (S7) also rides on it: ``daily`` is empty exactly
    when the scanned input is (one row per (symbol, date) group, no
    filter), so an empty scan raises before either sink writes."""
    raw = read_partitioned(spark, input_path, fmt=fmt, year=year, month=month, day=day)
    # A4/A5: keep-last per (symbol, day, event time) under an explicit
    # order — the deterministic form of the reference's
    # dropDuplicates(["symbol","date"]) (`spark_batch_processor.py:83`)
    with_day = raw.withColumn("__day", F.to_date(F.col(ts_col)))
    deduped = dedup.dedup_keep_last(
        with_day,
        keys=[symbol_col, "__day", ts_col],
        order_by=[id_col] if id_col else [ts_col],
    ).drop("__day")
    daily = ohlcv.daily_metrics(
        deduped,
        symbol_col=symbol_col,
        ts_col=ts_col,
        price_col=price_col,
        id_col=id_col,
        volume_col=volume_col,
    ).localCheckpoint()
    n = daily.count()
    if n == 0:
        raise RuntimeError(f"input gate: no rows at {input_path} (S7)")
    out = daily.withColumn("year", F.year("date")).withColumn(
        "month", F.month("date")
    )
    sinks.write_parquet_partitioned(
        out, output_path, partition_cols=["year", "month"], mode="overwrite"
    )
    if warehouse_path:
        sinks.merge_upsert_parquet(
            spark, daily, warehouse_path, keys=["symbol", "date"]
        )
    return n


def stream_job(
    spark: SparkSession,
    input_path: str,
    target_path: str,
    checkpoint_path: str,
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "price",
    volume_col: str | None = None,
    available_now: bool = False,
) -> None:
    """The reference's streaming pipeline (`spark_stream_processor.main`)
    end-to-end; blocks until termination (or drain, with
    ``available_now``)."""
    from real_time_stock_market_data_pipeline__spark.streaming import pipeline

    src = pipeline.read_file_stream(spark, input_path)
    q = pipeline.stream_realtime_metrics(
        src,
        target_path=target_path,
        checkpoint_path=checkpoint_path,
        symbol_col=symbol_col,
        ts_col=ts_col,
        price_col=price_col,
        volume_col=volume_col,
        available_now=available_now,
        stamp_last_updated=True,
    )
    q.awaitTermination()


@dataclass
class Step:
    """One task of a linear pipeline DAG, with the reference DAG's
    per-task semantics (`src/airflow/dags/historical.py:7-14`): up to
    ``retries`` re-attempts with ``retry_delay_s`` between them, and a
    failure (after retries) halting every downstream task."""

    name: str
    fn: Callable[[], object]
    retries: int = 1
    retry_delay_s: float = 0.0


@dataclass
class StepResult:
    name: str
    ok: bool
    attempts: int
    elapsed_s: float
    value: object = None
    error: str | None = None


@dataclass
class PipelineRun:
    results: list[StepResult] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return all(r.ok for r in self.results)

    def value(self, name: str) -> object:
        """Result value of the named step. Raises ``KeyError`` when the
        step never ran (e.g. halted upstream by fail_fast) and
        ``RuntimeError`` when it ran and failed — a failed step's None
        must not read like a legitimate result."""
        for r in self.results:
            if r.name == name:
                if not r.ok:
                    raise RuntimeError(
                        f"step {name!r} failed after {r.attempts} "
                        f"attempt(s): {r.error}"
                    )
                return r.value
        raise KeyError(
            f"step {name!r} has no result (never ran — halted upstream?)"
        )


def run_pipeline(steps: list[Step], fail_fast: bool = True) -> PipelineRun:
    """Linear-DAG runner: the engine-side equivalent of the reference's
    Airflow chain `fetch >> gate >> process >> load >> complete`
    (`historical.py:17-66`) — same dependency shape (a ``>>`` chain is
    a sequence), same retry policy, without requiring a scheduler.
    Real deployments can still split the steps across Airflow tasks by
    invoking the CLI per step; this runner exists so the full chain is
    testable and runnable as one ``python -m`` invocation.
    """
    run = PipelineRun()
    for step in steps:
        t0, attempts, value, err = time.time(), 0, None, None
        while attempts <= step.retries:
            attempts += 1
            try:
                value = step.fn()
                err = None
                break
            except Exception as e:  # noqa: BLE001 — step boundary
                err = f"{type(e).__name__}: {e}"
                logger.warning(
                    "step %s attempt %d/%d failed: %s",
                    step.name, attempts, step.retries + 1, err,
                )
                if attempts <= step.retries and step.retry_delay_s:
                    time.sleep(step.retry_delay_s)
        res = StepResult(
            name=step.name,
            ok=err is None,
            attempts=attempts,
            elapsed_s=round(time.time() - t0, 3),
            value=value,
            error=err,
        )
        run.results.append(res)
        logger.info(
            "step %s: %s (%d attempt(s), %.3fs)",
            step.name, "ok" if res.ok else "FAILED", attempts, res.elapsed_s,
        )
        if not res.ok and fail_fast:
            break
    return run


def historical_pipeline(
    spark: SparkSession,
    raw_path: str,
    output_path: str,
    warehouse_path: str,
    symbol_col: str = "symbol",
    ts_col: str = "ts",
    price_col: str = "price",
    id_col: str | None = None,
    volume_col: str | None = None,
    ingest: Callable[[], object] | None = None,
) -> PipelineRun:
    """The reference's whole historical DAG as one composable run:
    ingest (optional, e.g. a provider fetch writing ``raw_path``) →
    availability gate (S7, the `check_minio_file.py` step) → batch
    process (`spark_batch_processor.py`) → warehouse load
    (`load_to_snowflake.py`) → completion marker. Each step carries the
    reference's retry-once policy; a red step halts the chain."""
    steps = [
        Step("gate", lambda: _require_input(spark, raw_path)),
        Step(
            "process",
            lambda: batch_daily_job(
                spark,
                raw_path,
                output_path,
                warehouse_path=warehouse_path,
                symbol_col=symbol_col,
                ts_col=ts_col,
                price_col=price_col,
                id_col=id_col,
                volume_col=volume_col,
            ),
        ),
        Step("load_check", lambda: spark.read.parquet(warehouse_path).count()),
        Step("complete", lambda: "complete"),
    ]
    if ingest is not None:
        steps.insert(0, Step("ingest", ingest))
    return run_pipeline(steps)


def corpus_pipeline(
    spark: SparkSession,
    docs_path: str,
    out_dir: str,
    min_quality: float = 0.5,
    sample_fraction: float = 1.0,
) -> PipelineRun:
    """The LLM-training-data pipeline end-to-end as one composable
    run — the §2.10 operators wired in their production order:

    gate → quality score+filter → exact dedup → near-dup corpus dedup
    (MinHash-LSH clusters, keep-canonical) → ExactSubstr passage dedup
    (repeated blocks removed, docs rewritten, empty survivors dropped)
    → deterministic sample → train/val/test split → token packing →
    partitioned parquet.

    Each stage reports its surviving-row count, so the run doubles as
    the corpus funnel report. Same Step semantics (retry, fail-fast)
    as `historical_pipeline`; every stage is a declarative operator
    already oracle-checked individually, so the composition adds
    orchestration, not new semantics.
    """
    from real_time_stock_market_data_pipeline__spark.operators import (
        dedup as dedup_ops,
        sampling as sampling_ops,
        text as text_ops,
    )

    state: dict[str, object] = {}

    def _load():
        df = spark.read.parquet(docs_path)
        state["docs"] = df
        return df.count()

    def _quality():
        docs = state["docs"]
        kept_ids = text_ops.quality_filter(docs, min_score=min_quality)
        df = docs.join(
            F.broadcast(kept_ids.select("doc_id")), "doc_id", "left_semi"
        )
        state["docs"] = df.localCheckpoint()
        return state["docs"].count()

    def _exact_dedup():
        docs = state["docs"]
        keepers = dedup_ops.dedup_exact(docs).select(
            F.col("keep_id").alias("doc_id")
        )
        df = docs.join(F.broadcast(keepers), "doc_id", "left_semi")
        state["docs"] = df.localCheckpoint()
        return state["docs"].count()

    def _neardup():
        df = dedup_ops.dedup_corpus(state["docs"], id_col="doc_id",
                                    text_col="text")
        state["docs"] = df.localCheckpoint()
        return state["docs"].count()

    def _substring_dedup():
        # ExactSubstr pass (Lee et al.): repeated 8-word passages are
        # removed keeping the globally first occurrence, documents are
        # REWRITTEN from surviving blocks, and docs left with no novel
        # blocks (pure recombinations of other docs' text) drop out of
        # the funnel entirely
        docs = state["docs"]
        rebuilt = dedup_ops.substring_dedup(docs, emit_text=True)
        df = (
            docs.drop("text")
            .join(
                rebuilt.where(F.col("n_kept") > 0).select(
                    "doc_id", F.col("dedup_text").alias("text")
                ),
                "doc_id",
            )
        )
        state["docs"] = df.localCheckpoint()
        return state["docs"].count()

    def _sample_split():
        df = state["docs"]
        if sample_fraction < 1.0:
            df = sampling_ops.hash_sample(df, "doc_id", sample_fraction)
        df = sampling_ops.hash_split(df, "doc_id")
        state["docs"] = df.localCheckpoint()
        return state["docs"].count()

    def _pack():
        tokens = text_ops.token_count(state["docs"]).select(
            "doc_id", "ws_tokens"
        )
        with_tokens = state["docs"].select("doc_id", "split").join(
            tokens, "doc_id"
        )
        packs = text_ops.token_pack(
            with_tokens,
            group_cols=["split"],
            order_cols=["doc_id"],
            token_col="ws_tokens",
            budget=512,
        )
        state["packs"] = packs.localCheckpoint()
        return state["packs"].count()

    def _write():
        state["docs"].write.mode("overwrite").partitionBy("split").parquet(
            f"{out_dir}/corpus"
        )
        state["packs"].write.mode("overwrite").parquet(f"{out_dir}/packs")
        return spark.read.parquet(f"{out_dir}/corpus").count()

    steps = [
        Step("gate", lambda: _require_input(spark, docs_path)),
        Step("load", _load),
        Step("quality_filter", _quality),
        Step("exact_dedup", _exact_dedup),
        Step("neardup_dedup", _neardup),
        Step("substring_dedup", _substring_dedup),
        Step("sample_split", _sample_split),
        Step("token_pack", _pack),
        Step("write", _write),
    ]
    return run_pipeline(steps)


def _require_input(spark: SparkSession, path: str) -> bool:
    if not sinks.input_ready(spark, path):
        raise RuntimeError(f"input gate: no readable rows at {path} (S7)")
    return True


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="rtsmdp-jobs")
    sub = ap.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("batch")
    b.add_argument("--input", required=True)
    b.add_argument("--output", required=True)
    b.add_argument("--warehouse")
    b.add_argument("--symbol-col", default="symbol")
    b.add_argument("--ts-col", default="ts")
    b.add_argument("--price-col", default="price")
    b.add_argument("--id-col")
    b.add_argument("--volume-col")
    b.add_argument("--year", type=int)
    b.add_argument("--month", type=int)
    b.add_argument("--day", type=int)
    s = sub.add_parser("stream")
    s.add_argument("--input", required=True)
    s.add_argument("--target", required=True)
    s.add_argument("--checkpoint", required=True)
    s.add_argument("--available-now", action="store_true")
    s.add_argument("--symbol-col", default="symbol")
    s.add_argument("--ts-col", default="ts")
    s.add_argument("--price-col", default="price")
    h = sub.add_parser("historical")
    h.add_argument("--raw", required=True)
    h.add_argument("--output", required=True)
    h.add_argument("--warehouse", required=True)
    h.add_argument("--symbol-col", default="symbol")
    h.add_argument("--ts-col", default="ts")
    h.add_argument("--price-col", default="price")
    h.add_argument("--id-col")
    h.add_argument("--volume-col")
    args = ap.parse_args(argv)
    spark = get_spark("rtsmdp-job")
    if args.cmd == "historical":
        run = historical_pipeline(
            spark,
            args.raw,
            args.output,
            args.warehouse,
            symbol_col=args.symbol_col,
            ts_col=args.ts_col,
            price_col=args.price_col,
            id_col=args.id_col,
            volume_col=args.volume_col,
        )
        for r in run.results:
            print(f"{r.name}: {'ok' if r.ok else 'FAILED'} ({r.error or r.value})")
        return 0 if run.ok else 1
    if args.cmd == "batch":
        n = batch_daily_job(
            spark,
            args.input,
            args.output,
            warehouse_path=args.warehouse,
            symbol_col=args.symbol_col,
            ts_col=args.ts_col,
            price_col=args.price_col,
            id_col=args.id_col,
            volume_col=args.volume_col,
            year=args.year,
            month=args.month,
            day=args.day,
        )
        print(f"batch_daily_job: {n} rows written")
    else:
        stream_job(
            spark,
            args.input,
            args.target,
            args.checkpoint,
            symbol_col=args.symbol_col,
            ts_col=args.ts_col,
            price_col=args.price_col,
            available_now=args.available_now,
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())


def market_pipeline(
    spark: SparkSession,
    events_path: str,
    out_dir: str,
) -> PipelineRun:
    """The market-analytics batch end-to-end as one composable run —
    the reference's historical flow (`spark_batch_processor.py`)
    extended through the indicator/risk layer this engine adds:

    gate → tick ingest → daily OHLCV bars → indicator features +
    leakage-free label matrix → risk metrics (Sharpe/Sortino,
    VaR/CVaR) → partitioned parquet per dataset.

    Each stage reports its row count; every stage is an operator
    already oracle-checked individually, so the composition adds
    orchestration (retry, fail-fast, gating), not new semantics.
    """
    from real_time_stock_market_data_pipeline__spark import sinks
    from real_time_stock_market_data_pipeline__spark.operators import (
        indicators as ind,
        ohlcv as ohlcv_ops,
    )
    from real_time_stock_market_data_pipeline__spark.sources.registry import (
        load_table,
    )

    state: dict[str, object] = {}

    def _gate():
        if not sinks.input_ready(spark, events_path):
            raise RuntimeError(f"input not ready: {events_path}")
        return 1

    def _ingest():
        df = spark.read.parquet(events_path)
        state["ticks"] = df
        return df.count()

    def _daily():
        daily = ohlcv_ops.daily_metrics(
            state["ticks"],
            symbol_col="event_type",
            ts_col="ts",
            price_col="value",
            id_col="event_id",
        ).localCheckpoint()
        state["daily"] = daily
        return daily.count()

    def _features():
        feats = ind.feature_matrix(state["daily"])
        feats.write.mode("overwrite").parquet(f"{out_dir}/features")
        state["features"] = feats
        return spark.read.parquet(f"{out_dir}/features").count()

    def _risk():
        daily = state["daily"]
        risk = ind.sharpe_sortino(daily).join(
            ind.var_cvar(daily).select(
                "symbol", "var_5pct", "cvar_5pct"
            ),
            "symbol",
        )
        risk.write.mode("overwrite").parquet(f"{out_dir}/risk")
        return spark.read.parquet(f"{out_dir}/risk").count()

    steps = [
        Step("gate", _gate, retries=0),
        Step("ingest", _ingest),
        Step("daily_bars", _daily),
        Step("features", _features),
        Step("risk", _risk),
    ]
    return run_pipeline(steps, fail_fast=True)
