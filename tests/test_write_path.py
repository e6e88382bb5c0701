"""What one pipeline write costs: every sink materializes its batch once
and counts it on that same pass, a fresh sink is created by its first
append (no separate empty bootstrap unless the batch is empty), and a
session that re-runs the same pipeline serves its generated classes
from the codegen cache instead of recompiling them."""

import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ferramenta_etl_spark.sinks import (
    quarantine_invalid,
    read_txlog,
    write_ignore_conflicts,
)


def _parquet_files(path):
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def test_fresh_plain_sink_holds_exactly_the_rows(spark, tmp_path):
    path = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (2, "dup")], "k long, v string"
    )
    assert write_ignore_conflicts(df, path, keys=["k"]) == 3
    assert {(r.k, r.v) for r in spark.read.parquet(path).collect()} == {
        (1, "a"), (2, "b"), (3, "c")
    }
    files = _parquet_files(path)
    assert files, "the append must create the sink"
    # no schema-only bootstrap part file next to the data
    assert all(pq.ParquetFile(f).metadata.num_rows > 0 for f in files)


def test_fresh_plain_sink_with_zero_rows_reads_back_empty(spark, tmp_path):
    path = str(tmp_path / "sink")
    empty = spark.createDataFrame([], "k long, v string, x double")
    assert write_ignore_conflicts(empty, path, keys=["k"]) == 0
    out = spark.read.parquet(path)
    assert out.count() == 0
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in empty.schema.fields
    ]
    # and the empty table takes a later batch like any sink
    rows = spark.createDataFrame([(1, "a", 0.5)], "k long, v string, x double")
    assert write_ignore_conflicts(rows, path, keys=["k"]) == 1
    assert write_ignore_conflicts(rows, path, keys=["k"]) == 0
    assert spark.read.parquet(path).count() == 1


@pytest.mark.parametrize("backend", ["parquet", "txlog"])
def test_returned_count_is_rows_appended(spark, tmp_path, backend):
    path = str(tmp_path / "sink")
    read = read_txlog if backend == "txlog" else (lambda s, p: s.read.parquet(p))
    first = spark.range(0, 40).withColumn("v", F.col("id") * 2)
    second = spark.range(25, 100).withColumn("v", F.col("id") * 3)
    total = 0
    for batch in (first, second, second):
        n = write_ignore_conflicts(batch, path, keys=["id"], backend=backend)
        now = read(spark, path).count()
        assert n == now - total
        total = now
    assert total == 100


def test_returned_count_is_rows_quarantined(spark, tmp_path):
    qdir = str(tmp_path / "bad")
    df = spark.range(0, 50).withColumn(
        "amount", F.when(F.col("id") % 7 == 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    )
    rules = {"amount_positive": F.col("amount") > 0}
    valid, n_bad = quarantine_invalid(df, rules, qdir)
    assert n_bad == 8 == spark.read.parquet(qdir).count()
    assert valid.count() == 42
    clean = df.filter(F.col("amount") > 0)
    _, n_none = quarantine_invalid(clean, rules, qdir)
    assert n_none == 0 and spark.read.parquet(qdir).count() == 8


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_repeated_pipeline_run_compiles_no_new_classes(spark, tmp_path, sf_dir):
    """The shipped 5-job pipeline generates more distinct classes than
    Spark's default codegen cache holds (100); the session's cache is
    sized so that re-running the same jobs recompiles nothing. AQE
    re-plans as query stages finish, so which join variant a replay runs
    can depend on which stage finished first, and a variant not seen yet
    compiles once; with the default cache every replay recompiles ~100
    classes and never reaches 0."""
    from ferramenta_etl_spark.pipeline.jobs import build_jobs
    from ferramenta_etl_spark.pipeline.registry import JobRegistry

    reg = JobRegistry()
    for name, fn in build_jobs(sf_dir, str(tmp_path / "sinks")).items():
        reg.register(name, fn, name)
    assert all(r.output > 0 for r in reg.run_all(spark))  # cold load
    compiled = []
    for _ in range(4):  # replays: anti-join against the loaded sinks
        before = _compilations(spark)
        assert [r.output for r in reg.run_all(spark)] == [0] * 5
        compiled.append(_compilations(spark) - before)
        if compiled[-1] == 0:
            break
    assert compiled[-1] == 0, compiled
