"""SparkSession construction with scale-tuned defaults.

The same conf set is used for tests (local[*]) and would ship in
``spark-submit --py-files`` jobs; only master/parallelism differ. Rationale
per conf is in-line — these are the knobs SURVEY.md §4.2 calls out.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(app: str = "nhao-extract", master: str | None = None,
                  shuffle_partitions: int | None = None) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or cpus

    # Ship this package to executor Python workers. Local mode: workers are
    # forked from the JVM and read PYTHONPATH from its environment, so export
    # it before the JVM starts. Cluster mode uses spark-submit --py-files
    # (jobs/extract.py packages the zip).
    pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else ""))

    b = (
        SparkSession.builder.appName(app).master(master)
        # Arrow transfer for pandas UDFs / mapInPandas — the pipeline's
        # JVM↔Python boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html payloads are multi-KB..MB; default 10k-row batches would make
        # multi-GB Arrow batches on heavy pages. Keep batches modest.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        # AQE: runtime coalescing + skew-join splitting for the anti-join and
        # dedup shuffles.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        # Splittable input: cap per-task input so a few giant files don't
        # straggle (100 TB → ~800k tasks at 128 MB, fine for a 1000-exec job).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("NHAO_DRIVER_MEM", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # Python workers pay ~180 ms/task re-reading pyspark.zip's central
        # directory in importlib.invalidate_caches() (CPython 3.11 makes
        # zipimporter invalidation eager). The custom daemon guards the
        # re-read on the archive's (mtime, size), and starts workers warm
        # (compiled pyspark cached on disk, the worker stack imported
        # before the fork) — see zipcache_daemon.py.
        # Local mode only: the daemon module must be importable from the
        # worker environment's PYTHONPATH, which local mode inherits from
        # the export above; a cluster deployment sets this conf plus
        # spark.executorEnv.PYTHONPATH explicitly.
        b = b.config("spark.python.daemon.module",
                     "norsk_historisk_avis_ocr_spark.zipcache_daemon")
    return b.getOrCreate()
