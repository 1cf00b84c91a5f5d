"""Spark's Python worker daemon, with zip directories re-read only when
the archive changed.

Run as ``python -m isaac_kafka_streaming_spark.pydaemon pyspark.worker``
(``session.get_spark`` sets ``spark.python.daemon.module`` to this
module; Spark appends the worker module).  Every Python task starts with
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``.  The workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``, and under CPython < 3.12
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory (1,328 entries) for each zipimporter instance a
worker holds (16 after a mapInPandas task), on every task: 140-150 ms
of CPU per task on a 4-core box.  CPython 3.12 made that read lazy
(gh-103200).  In two traced ``isaac_stream`` runs (perfbench, seed 101)
the Python workers used 2.54 and 2.91 CPU-s per published file before
this module and 1.10 and 0.99 with it (those runs also passed event
time to the state machines as micros, see streaming/state.py).

`install` replaces the method with one that re-reads an archive only
when its ``(st_size, st_mtime_ns)`` differs from what that instance saw
at its last read, so an archive rewritten in place is still picked up.
The daemon installs it before importing ``pyspark.daemon`` and then runs
``pyspark.daemon.manager()``, so every forked worker inherits it.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns)


def _invalidate_if_changed(self) -> None:
    """Re-read this importer's archive only if it changed since this
    instance last read it (a missing archive always re-reads, which
    empties the importer as before)."""
    # stat before reading: a write racing with the read changes the
    # stamp again, so the next call re-reads rather than keeping a
    # half-old directory
    stamp = _stamp(self.archive)
    if stamp is not None and getattr(self, "_read_stamp", None) == stamp:
        return
    _reread(self)
    self._read_stamp = stamp


def install() -> None:
    """Patch `zipimport.zipimporter.invalidate_caches` in this process
    and the processes it forks; on CPython >= 3.12 the upstream method
    is already cheap and stays."""
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed


def main() -> None:
    install()
    from pyspark import daemon

    # stamp every importer the daemon already holds (pyspark.daemon
    # imported pyspark.worker above), so forked workers start stamped
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run the package's copy of this module, not __main__'s, so the
    # installed method is the one workers find under the package name
    from isaac_kafka_streaming_spark.pydaemon import main as _main

    _main()
