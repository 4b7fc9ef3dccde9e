"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every config here is chosen for
the 1000-executor / 100 TB case and is harmless locally:

- AQE on (runtime coalescing, skew-join splitting) — the head surface
  forms in mention linking are Zipf-skewed, so skew handling is load-
  bearing, not decorative (reference fans out threads instead:
  src/config.py:85).
- Arrow enabled for every pandas UDF boundary.
- shuffle.partitions sized by caller (default 2x cores locally; on a
  real cluster you'd set ~2-3x total cores via spark-submit --conf).
- Under a ``local`` master, Python workers start from ``worker_daemon``,
  which keeps ``pyspark.daemon`` but stops every task re-reading
  ``pyspark.zip`` (about 0.2 CPU-s per Python task on CPython
  3.10-3.12). The package's import root goes on the workers' path, so
  this holds for a checkout and for a ``--py-files`` zip alike.
- The generated-code cache holds 1000 classes, above the 408 a session
  that builds and queries a graph uses (242 for a build), so a repeated
  build or query compiles none of its whole-stage-codegen classes again;
  at the default 100 entries every build recompiled ~230.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "ontology-learning-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N works well for test scale; a cluster deploy
        # overrides via --conf spark.sql.shuffle.partitions.
        n = cpus if "local" in master else 2048
        shuffle_partitions = n

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
    )
    if master.startswith("local"):
        # Python workers run on this host: put the package's import root
        # (a checkout, or a --py-files zip) on their path, so that they
        # can start from worker_daemon, pyspark's daemon minus the
        # per-task re-read of pyspark.zip (see its docstring). A cluster
        # executor may see shipped --py-files only once a task runs,
        # after its daemon has started, so there pyspark's daemon stays.
        import pathlib

        package_root = str(pathlib.Path(__file__).resolve().parent.parent)
        builder = (
            builder.config("spark.executorEnv.PYTHONPATH", package_root)
            .config("spark.python.daemon.module", "ontology_learning_spark.worker_daemon")
        )
    if master.startswith("local-cluster"):
        # multi-executor-JVM local mode (the honest sandbox stand-in
        # for N vs 4N executors): executors are separate processes, so
        # they need a real executor memory setting.
        builder = (
            builder.config("spark.executor.memory",
                    os.environ.get("SPARK_EXECUTOR_MEM", "4g"))
            # every executor is localhost: waiting for data-local slots
            # only stalls small stages (measured ~30s/run of pure
            # locality wait at defaults)
            .config("spark.locality.wait", "0s")
        )
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # FAIR job scheduling: the flagship pipeline materializes its
        # independent legs from concurrent driver threads (each in its
        # own on-demand pool); FIFO would let the first-submitted job
        # hog every task slot and serialize the legs (measured: ~0 wall
        # overlap at 4 concurrent jobs under FIFO). Single-job
        # workloads are unaffected.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size-based coalescing assumes bytes ∝ CPU; mention/concept
        # shuffles here are tiny in bytes but sort/UDF-heavy per row,
        # and the 1MB default was collapsing them to ~4 partitions
        # (capping those stages at 4 cores regardless of cluster size).
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # CollectLimit's incremental execution (1 partition, then scale
        # up) turns every guarded probe-collect over a small table into
        # TWO jobs; starting at 32 partitions makes it one. Limits over
        # genuinely large inputs scan a few more partitions up front —
        # negligible next to the saved job round-trip.
        .config("spark.sql.limit.initialNumPartitions", "32")
        # The minhash signature aggregation carries bands*rows (~90 at
        # threshold 0.9: r=9, b=10) min-agg buffer fields; the default maxFields
        # (100) silently drops that stage out of whole-stage codegen
        # into interpreted row-based aggregation (~2x the wall).
        .config("spark.sql.codegen.maxFields", "512")
        # Whole-stage-codegen classes are cached per session in an LRU of
        # this many entries (default 100). A build uses 242 distinct
        # classes, a query pass 166 more, a session running both 408
        # (counted with an unbounded cache, seed 7), so at the default
        # every build Janino-compiled ~230 classes anew and the JIT then
        # compiled each new class again. Static: set before the session.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
