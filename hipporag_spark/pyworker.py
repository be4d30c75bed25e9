"""Python worker daemon for :func:`hipporag_spark.session.get_spark` sessions.

Spark starts its Python workers through a daemon, ``python -m <module>``
(``spark.python.daemon.module``), which forks one worker per task slot. At
the start of every task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` so that files added with ``addPyFile``
become importable. On CPython that makes every ``zipimporter`` in
``sys.path_importer_cache`` re-read the central directory of its archive:
about 16 importers over ``pyspark.zip`` (1,328 files), the py4j zip and the
spark-core jar, all of which Spark puts on the worker's ``PYTHONPATH``.
Timed inside a worker on a 4-core host that is 105-165 ms per task, about
half the fixed cost of a pandas stage that does little work.

Run as the daemon module, this file replaces
``zipimport.zipimporter.invalidate_caches`` with
:func:`invalidate_caches_if_changed`, which re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the stamp of that importer's last
read, and then runs pyspark's own daemon. The rest of
``PathFinder.invalidate_caches`` is untouched: relative path entries are
still dropped, the namespace-path epoch is still bumped, every
``FileFinder`` is still invalidated (so files in the ``userFiles``
directory appear), and a changed or newly added zip is still read.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive's ``(st_mtime_ns, st_size)`` equals the stamp of this
    importer's last read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    # stat before the read: a write racing the read leaves an old stamp,
    # so the next call reads again instead of keeping a torn directory
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    import importlib

    # importing the daemon imports the worker module, so the importers
    # the workers inherit exist before the priming read stamps them
    from pyspark.daemon import manager

    zipimport.zipimporter.invalidate_caches = invalidate_caches_if_changed
    importlib.invalidate_caches()
    manager()
