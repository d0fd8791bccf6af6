"""Python-worker daemon for traced runs: times every decoder and warp call.

A traced session names this module in ``spark.python.daemon.module``, so
Spark starts it in place of ``pyspark.daemon``.  It wraps
``functions.codecs.decode_image`` and ``raster.warp.warp_array`` before
the daemon forks its workers; the UDFs of ``classify_table`` and
``tiles.pipeline.base_patches`` look both up through those modules, so
every worker runs the wrappers.  A call made by a task whose job carries
a description (``<layer>|<step>|<pass>``, see ``harness.Tracer``)
appends one line ``<function>\\t<seconds>\\t<description>`` to the file
named by ``PERFBENCH_CALL_LOG``; calls from unlabelled jobs are not
written.  Lines are short single writes to an O_APPEND file, so the
workers' lines never interleave.
"""

from __future__ import annotations

import os
import time

from pyspark import TaskContext

from gdal_spark.functions import codecs
from gdal_spark.raster import warp

LOG = os.environ.get("PERFBENCH_CALL_LOG", "")


def _record(name: str, seconds: float) -> None:
    tc = TaskContext.get()
    desc = tc.getLocalProperty("spark.job.description") if tc else None
    if not (LOG and desc):
        return
    fd = os.open(LOG, os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
    try:
        os.write(fd, f"{name}\t{seconds:.6f}\t{desc}\n".encode())
    finally:
        os.close(fd)


def _wrap(module, name: str) -> None:
    fn = getattr(module, name)

    def timed(*args, **kwargs):
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            _record(name, time.perf_counter() - t0)

    setattr(module, name, timed)


def read(path: str) -> list[tuple[str, float, str]]:
    """The log's (function, seconds, description) rows."""
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        return [(f, float(s), d) for f, s, d in
                (line.rstrip("\n").split("\t", 2) for line in fh)]


if __name__ == "__main__":
    _wrap(codecs, "decode_image")
    _wrap(warp, "warp_array")
    from pyspark.daemon import manager

    manager()
