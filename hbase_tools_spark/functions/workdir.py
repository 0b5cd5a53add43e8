"""The one scratch root of the process: stream checkpoints, spill
sinks, stage directories and served artifacts all live under it.
Served artifacts are made by ``functions.memo.artifact``, whose memo
entry owns the directory: a failed build and an evicted entry both
remove it.

The root sits under the first local dir Spark itself resolved
(``SPARK_LOCAL_DIRS`` over ``spark.local.dir`` over ``java.io.tmpdir``),
is made on first use and is removed when the process exits, so it
outlives every memoized path it backs.  Its paths are driver-local:
executors must share the driver's filesystem, which only a ``local``
master guarantees — a spill sink or index written on a multi-node
cluster would land on each executor's own disk.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile
import threading

_ROOT: str | None = None
_LOCK = threading.Lock()


def root(spark) -> str:
    """This process's scratch root, made on the first call."""
    global _ROOT
    sc = spark.sparkContext
    if not sc.master.startswith("local"):
        raise RuntimeError(
            f"scratch directories are driver-local and assume executors "
            f"share the driver's filesystem; master {sc.master!r} is not local"
        )
    with _LOCK:
        if _ROOT is None:
            conf = sc._jsc.sc().getConf()
            base = sc._jvm.org.apache.spark.util.Utils.getConfiguredLocalDirs(conf)[0]
            os.makedirs(base, exist_ok=True)
            _ROOT = tempfile.mkdtemp(prefix="hbase_tools_", dir=base)
            atexit.register(shutil.rmtree, _ROOT, ignore_errors=True)
        return _ROOT


def scratch(spark, prefix: str) -> str:
    """A fresh directory under the root, removed with it."""
    return tempfile.mkdtemp(prefix=prefix, dir=root(spark))


@contextlib.contextmanager
def temp(spark, prefix: str):
    """A fresh directory under the root, removed when the block exits."""
    path = scratch(spark, prefix)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)
