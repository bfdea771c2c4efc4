"""Pre-warmed PySpark worker daemon (``spark.python.daemon.module``).

The stock ``pyspark.daemon`` forks workers that inherit only pyspark
core imports, so every fresh fork re-imports numpy, pandas and the
Arrow serializer stack inside its task. This drop-in daemon module
pre-imports the heavy libraries every UDF in this engine touches BEFORE
the fork loop starts, so children inherit them via copy-on-write — a
fork costs pages, not imports. Values are untouched: this changes
process warm-up, never execution.

Which processes get what:

- **Pre-imports: task workers only.** Spark launches a daemon with
  ``spark.python.daemon.module`` only for task runners (UDFs,
  ``applyInPandasWithState``, data-source reads and writes). Data-source
  *planner* runners — ``createWriteInfoInPython`` and the streaming sink
  commit, run on the driver every trigger — go through the
  ``createPythonWorker`` overload that hardcodes Spark's default daemon
  module, so they run under the stock ``pyspark.daemon`` and never
  import this file.
- **zipimport guard: every process.** The guard lives in
  ``worker_site/sitecustomize.py``, a startup hook that CPython runs in
  every interpreter the JVM launches, planner runners included.

Only always-installed third-party modules are pre-imported
unconditionally; the engine's own package is attempted best-effort
(it may not be on the daemon's import path when a driver runs from
another cwd — workers then fall back to the per-task sys.path setup
pyspark already does for addPyFile archives).

Wired by ``session.get_spark`` via ``spark.python.daemon.module``
(public config, SPARK-4160) only when this module is importable by a
bare interpreter, so foreign environments degrade to the stock daemon
rather than failing worker creation.
"""

from __future__ import annotations

import importlib

for _mod in (
    "numpy",
    "pandas",
    "pyarrow",
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
    "pyspark.sql.datasource",
):
    try:
        importlib.import_module(_mod)
    except Exception:  # pragma: no cover - environment-dependent
        pass

for _mod in (
    # the closures shipped to workers resolve these at unpickle time
    "streamprocess_spark.streaming.sessionizer",
    "streamprocess_spark.io.queue_source",
    "streamprocess_spark.io.result_sink",
):
    try:
        importlib.import_module(_mod)
    except Exception:  # pragma: no cover - cwd-dependent
        pass


if __name__ == "__main__":
    from pyspark.daemon import manager

    manager()
