"""End-to-end job tests: the reference's two applications recomposed
from engine operators, run over real fixture data."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from real_time_stock_market_data_pipeline__spark import jobs
from real_time_stock_market_data_pipeline__spark.sources.registry import load_table


def _partitioned_input(spark, sf_dir, tmp):
    ev = load_table(spark, sf_dir, "events")
    path = os.path.join(tmp, "raw")
    (
        ev.withColumn("year", F.year("ts"))
        .withColumn("month", F.month("ts"))
        .withColumn("day", F.dayofmonth("ts"))
        .write.partitionBy("year", "month", "day")
        .parquet(path)
    )
    return path


def test_batch_daily_job_end_to_end(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="job_")
    raw = _partitioned_input(spark, sf_dir, tmp)
    out = os.path.join(tmp, "daily")
    wh = os.path.join(tmp, "warehouse")
    n = jobs.batch_daily_job(
        spark,
        raw,
        out,
        warehouse_path=wh,
        symbol_col="event_type",
        ts_col="ts",
        price_col="value",
        id_col="event_id",
    )
    assert n > 0
    daily = spark.read.parquet(out)
    assert {"symbol", "date", "daily_open", "daily_close", "year", "month"} <= set(
        daily.columns
    )
    # warehouse upsert is idempotent: run the whole job again
    n2 = jobs.batch_daily_job(
        spark,
        raw,
        out,
        warehouse_path=wh,
        symbol_col="event_type",
        ts_col="ts",
        price_col="value",
        id_col="event_id",
    )
    assert n2 == n
    wh_df = spark.read.parquet(wh)
    assert wh_df.groupBy("symbol", "date").count().filter(F.col("count") > 1).count() == 0


def test_batch_daily_job_partition_pruned_run(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="job_")
    raw = _partitioned_input(spark, sf_dir, tmp)
    out = os.path.join(tmp, "daily")
    n = jobs.batch_daily_job(
        spark,
        raw,
        out,
        symbol_col="event_type",
        ts_col="ts",
        price_col="value",
        id_col="event_id",
        year=2024,
        month=1,
        day=2,
    )
    daily = spark.read.parquet(out)
    assert n == daily.count()
    dates = {r["date"].isoformat() for r in daily.select("date").distinct().collect()}
    assert dates == {"2024-01-02"}


def test_batch_daily_job_reads_input_once(spark, sf_dir, monkeypatch):
    """Both sinks are fed from one materialised daily frame: the frame
    handed to the warehouse merge holds no scan of the raw input (so
    the merge cannot re-run the scan, dedup and aggregate), and the
    returned count is the number of rows the output holds."""
    from real_time_stock_market_data_pipeline__spark import plans

    tmp = tempfile.mkdtemp(prefix="job_")
    raw = _partitioned_input(spark, sf_dir, tmp)
    out = os.path.join(tmp, "daily")
    wh = os.path.join(tmp, "warehouse")
    merge = jobs.sinks.merge_upsert_parquet
    batches = []

    def capture(spark_, batch, path, keys):
        batches.append(batch)
        return merge(spark_, batch, path, keys)

    monkeypatch.setattr(jobs.sinks, "merge_upsert_parquet", capture)
    n = jobs.batch_daily_job(
        spark,
        raw,
        out,
        warehouse_path=wh,
        symbol_col="event_type",
        ts_col="ts",
        price_col="value",
        id_col="event_id",
    )
    assert len(batches) == 1
    plan = plans.physical_plan(batches[0])
    assert "FileScan" not in plan, plan
    assert n == spark.read.parquet(out).count()
    assert n == spark.read.parquet(wh).count()


def test_batch_daily_job_empty_pruned_run_writes_nothing(spark, sf_dir):
    """A run date with no partition is an empty scan: the input gate
    raises before either sink writes."""
    tmp = tempfile.mkdtemp(prefix="job_")
    raw = _partitioned_input(spark, sf_dir, tmp)
    out = os.path.join(tmp, "daily")
    wh = os.path.join(tmp, "warehouse")
    with pytest.raises(RuntimeError, match="input gate: no rows"):
        jobs.batch_daily_job(
            spark,
            raw,
            out,
            warehouse_path=wh,
            symbol_col="event_type",
            ts_col="ts",
            price_col="value",
            id_col="event_id",
            year=1999,
        )
    assert not os.path.exists(out)
    assert not os.path.exists(wh)


def test_stream_job_end_to_end(spark, sf_dir):
    tmp = tempfile.mkdtemp(prefix="job_")
    target = os.path.join(tmp, "metrics")
    jobs.stream_job(
        spark,
        f"{sf_dir}/events.parquet",
        target,
        os.path.join(tmp, "ckpt"),
        symbol_col="event_type",
        ts_col="ts",
        price_col="value",
        available_now=True,
    )
    out = spark.read.parquet(target)
    assert out.count() > 0
    assert "last_updated" in out.columns  # P14 stamp on the job path
    assert (
        out.groupBy("symbol", "window_start").count().filter(F.col("count") > 1).count()
        == 0
    )


def test_run_pipeline_retries_then_succeeds():
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] < 2:
            raise RuntimeError("transient")
        return "ok"

    run = jobs.run_pipeline([jobs.Step("flaky", flaky, retries=1)])
    assert run.ok
    assert run.results[0].attempts == 2
    assert run.value("flaky") == "ok"


def test_run_pipeline_halts_downstream_on_failure():
    ran = []

    def boom():
        raise RuntimeError("hard failure")

    run = jobs.run_pipeline(
        [
            jobs.Step("a", lambda: ran.append("a")),
            jobs.Step("b", boom, retries=1),
            jobs.Step("c", lambda: ran.append("c")),
        ]
    )
    assert not run.ok
    assert [r.name for r in run.results] == ["a", "b"]  # c never ran
    assert run.results[1].attempts == 2
    assert "hard failure" in run.results[1].error
    assert ran == ["a"]
    # value() must not silently return None for failed/never-ran steps
    with pytest.raises(RuntimeError, match="failed after 2"):
        run.value("b")
    with pytest.raises(KeyError, match="never ran"):
        run.value("c")


def test_historical_pipeline_full_chain(spark, sf_dir):
    """fetch → gate → process → load → complete, the reference DAG
    (`historical.py:17-66`) as one run: ingest writes raw partitioned
    parquet, the gate sees it, batch processes to daily metrics, the
    load check counts warehouse rows, completion marker emitted."""
    tmp = tempfile.mkdtemp(prefix="dag_")
    raw = os.path.join(tmp, "raw")
    out = os.path.join(tmp, "daily")
    wh = os.path.join(tmp, "warehouse")

    def ingest():
        _partitioned_input(spark, sf_dir, tmp)  # writes tmp/raw
        return raw

    run = jobs.historical_pipeline(
        spark,
        raw,
        out,
        wh,
        symbol_col="event_type",
        ts_col="ts",
        price_col="value",
        id_col="event_id",
        ingest=ingest,
    )
    assert run.ok, [r.error for r in run.results]
    assert [r.name for r in run.results] == [
        "ingest", "gate", "process", "load_check", "complete",
    ]
    assert run.value("process") > 0
    assert run.value("load_check") == run.value("process")
    assert run.value("complete") == "complete"


def test_historical_pipeline_gate_blocks_empty_input(spark):
    tmp = tempfile.mkdtemp(prefix="dag_empty_")
    run = jobs.historical_pipeline(
        spark,
        os.path.join(tmp, "missing_raw"),
        os.path.join(tmp, "daily"),
        os.path.join(tmp, "warehouse"),
    )
    assert not run.ok
    assert [r.name for r in run.results] == ["gate"]  # halted at the gate
    assert "input gate" in run.results[0].error


def test_corpus_pipeline_funnel(spark, sf_dir, tmp_path):
    from real_time_stock_market_data_pipeline__spark import jobs

    run = jobs.corpus_pipeline(
        spark, f"{sf_dir}/documents.parquet", str(tmp_path / "out")
    )
    assert run.ok
    vals = {r.name: r.value for r in run.results}
    # the funnel can only shrink
    assert vals["load"] >= vals["quality_filter"] >= vals["exact_dedup"]
    assert vals["exact_dedup"] >= vals["neardup_dedup"] >= 1
    # ExactSubstr stage rewrites text and can only drop docs (those
    # whose every block already occurred earlier in the corpus)
    assert vals["neardup_dedup"] >= vals["substring_dedup"] >= 1
    assert vals["write"] == vals["sample_split"]
    # written corpus is split-partitioned and re-readable
    corpus = spark.read.parquet(str(tmp_path / "out" / "corpus"))
    assert set(corpus.select("split").distinct().toPandas()["split"]) <= {
        "train", "val", "test"
    }
    packs = spark.read.parquet(str(tmp_path / "out" / "packs"))
    assert packs.count() == vals["token_pack"]


def test_cli_historical_passes_id_col(spark, sf_dir, monkeypatch, capsys):
    """`historical` on the command line reaches the event-id tie-break
    of the keep-last dedup and lands the same warehouse rows as the
    Python call with the same arguments."""
    tmp = tempfile.mkdtemp(prefix="cli_")
    raw = _partitioned_input(spark, sf_dir, tmp)
    cols = dict(symbol_col="event_type", ts_col="ts", price_col="value")
    py_wh = os.path.join(tmp, "py_wh")
    run = jobs.historical_pipeline(
        spark, raw, os.path.join(tmp, "py_out"), py_wh, id_col="event_id",
        **cols,
    )
    assert run.ok, [r.error for r in run.results]

    monkeypatch.setattr(jobs, "get_spark", lambda *a, **k: spark)
    cli_wh = os.path.join(tmp, "cli_wh")
    rc = jobs.main([
        "historical", "--raw", raw, "--output", os.path.join(tmp, "cli_out"),
        "--warehouse", cli_wh, "--symbol-col", "event_type", "--ts-col", "ts",
        "--price-col", "value", "--id-col", "event_id",
    ])
    assert rc == 0, capsys.readouterr().out
    py_rows = spark.read.parquet(py_wh).collect()
    cli_rows = spark.read.parquet(cli_wh).collect()
    assert len(py_rows) > 0
    assert sorted(map(tuple, cli_rows)) == sorted(map(tuple, py_rows))
