"""Run-scoped scratch storage: the one place spill directories are made.

Two idioms recur across the operators:

- ``scratch_dir``: a fresh temp dir whose contents back a DataFrame the
  caller returns (it reads lazily, so the dir must outlive the call). It
  is removed at interpreter exit; callers that know a dir is dead sooner
  (superseded iteration rounds, failed writes) may remove it eagerly.
- ``spill``: the cross-job lineage cut. An eager job (collect, broadcast
  build, write) followed by a final job over the same lineage re-runs it —
  ReuseExchange only dedups within one physical plan — so the compact
  intermediate is written once and every later consumer reads the flat
  parquet scan (CLAUDE.md "Cross-JOB re-execution").

Dirs live under ``tempfile.gettempdir()``. Callers that need the data past
process exit write it to their own storage.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame


def scratch_dir(prefix: str) -> str:
    """A new temp dir named ``prefix*``, removed at interpreter exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def spill(df: DataFrame, prefix: str) -> DataFrame:
    """Write ``df`` as parquet into a fresh scratch dir and return the
    scan of it. A failed write removes the dir before re-raising."""
    run_dir = scratch_dir(prefix)
    path = os.path.join(run_dir, "data")
    try:
        df.write.parquet(path)
    except BaseException:
        shutil.rmtree(run_dir, ignore_errors=True)
        raise
    return df.sparkSession.read.parquet(path)
