"""Self-distribution of the engine package to Spark Python workers.

Factories/classes referenced inside mapInPandas closures are pickled *by
reference* to this package, so executor Python workers must be able to
import it. On a real cluster that's ``--py-files``; here we zip the package
once per session and ``addPyFile`` it — making every plan independent of
the driver process's cwd/PYTHONPATH. Importing the package on a worker also
installs ``worker_imports``' fix, which stops each later task re-parsing
unchanged zip archives on ``sys.path`` (this zip among them).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_SENT_APP_IDS: set[str] = set()


def ensure_worker_imports(spark: SparkSession) -> None:
    app_id = spark.sparkContext.applicationId
    if app_id in _SENT_APP_IDS:
        return
    pkg_root = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_root)
    zpath = os.path.join(
        tempfile.gettempdir(), f"annotations_ingester_spark_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        with zipfile.ZipFile(zpath, "w") as zf:
            for dirpath, _dirnames, filenames in os.walk(pkg_root):
                for fn in filenames:
                    if fn.endswith(".py"):
                        full = os.path.join(dirpath, fn)
                        zf.write(full, os.path.relpath(full, parent))
    spark.sparkContext.addPyFile(zpath)
    _SENT_APP_IDS.add(app_id)
