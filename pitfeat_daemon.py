"""pitfeat's Python worker daemon: Spark's stock ``pyspark.daemon`` minus
one per-task zip re-read.

``get_spark`` sets ``spark.python.daemon.module=pitfeat_daemon``, so Spark
starts ``python -m pitfeat_daemon pyspark.worker`` and this module hands
over to ``pyspark.daemon`` unchanged (it reads the worker module from
``argv[1]`` as before). The one difference: before every task,
``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python 3.11 that makes every
``zipimporter`` on ``sys.path`` re-read its archive's directory:
``pyspark.zip``, the py4j zip and the spark-core jar, ~0.2 CPU-s per task
on a 4-vCPU host. Here ``zipimporter.invalidate_caches`` does nothing.

Why that is safe:

- It skips only re-reading zips that are already on ``sys.path``. A zip
  shipped later (``sc.addPyFile``) lands under a new path, gets a new
  importer and is read then; directory ``FileFinder`` caches are still
  invalidated on every task.
- A zip overwritten in place under the same path is not re-read: its
  modules keep resolving against the directory read when the path was first
  imported from.

Workers must be able to import this module, exactly as they must import
``pitfeat`` for its kernels: run from the repository root or put it on
``PYTHONPATH``. It lives at the root, not in the ``pitfeat`` package, and
imports neither ``pitfeat`` nor pyarrow: importing pyarrow starts a
jemalloc background thread, and the daemon must fork its workers from a
single-threaded process, as the stock one does.
"""

import runpy
import zipimport


def _keep_zip_directory(self):
    """``zipimporter.invalidate_caches`` replacement: keep the directory."""


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _keep_zip_directory
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
