"""Run-scoped spills (ndto_spark/spill.py) and the guard that keeps every
spill and streaming replay on the shared helpers."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from ndto_spark.spill import scratch_dir, spill

PKG = os.path.join(os.path.dirname(__file__), os.pardir, "ndto_spark")


def _dirs(prefix: str) -> set:
    root = tempfile.gettempdir()
    return {f for f in os.listdir(root) if f.startswith(prefix)}


def test_spill_reads_back_its_input_after_the_call(spark):
    df = spark.range(0, 50, 1, 3).select(
        "id", (F.col("id") * 3).alias("x"), F.col("id").cast("string").alias("s")
    )
    out = spill(df, "ndto_test_spill_")
    # the write is done: the returned frame is a scan of the spilled files
    assert "parquet" in out._jdf.queryExecution().executedPlan().toString().lower()
    # (parquet reads every column back as nullable)
    assert out.dtypes == df.dtypes
    assert sorted(out.collect()) == sorted(df.collect())


def test_failed_spill_leaves_no_dir(spark):
    before = _dirs("ndto_test_failspill_")
    df = spark.range(0, 10).select(
        F.when(F.col("id") == 7, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id"))
        .alias("v")
    )
    with pytest.raises(Exception, match="boom"):
        spill(df, "ndto_test_failspill_")
    assert _dirs("ndto_test_failspill_") == before


def test_scratch_dirs_live_under_the_tempfile_root():
    path = scratch_dir("ndto_test_scratch_")
    assert os.path.isdir(path)
    assert os.path.dirname(path) == tempfile.gettempdir()
    assert os.path.basename(path).startswith("ndto_test_scratch_")


def _sources():
    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                with open(path) as fh:
                    yield os.path.relpath(path, PKG), fh.read()


def test_spill_and_replay_idioms_have_one_implementation():
    for rel, src in _sources():
        if rel == "spill.py":
            continue
        assert "tempfile.mkdtemp" not in src, f"{rel}: use spill.scratch_dir"
        assert "atexit" not in src, f"{rel}: use spill.scratch_dir"
    with open(os.path.join(PKG, "queries.py")) as fh:
        queries = fh.read()
    # one streaming-replay harness (_replay_stream), one part-file stager
    # (_stage_file)
    assert queries.count("awaitTermination(") == 1
    assert queries.count('startswith("part-")') == 1
