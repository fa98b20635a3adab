"""SparkSession factory with the engine's tuned defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "logmetrics_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build a session. Defaults: local[N] and N shuffle partitions,
    where N is $SPARK_GRAFT_CPUS or else the CPUs this process may run
    on (``os.sched_getaffinity``); AQE on (runtime coalesce +
    skew-join), UTC session timezone (the engine's event-time
    contract), Arrow enabled for pandas UDFs."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions if shuffle_partitions is not None else int(cpus)
    builder = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # modest Arrow batches: with chained pandas stages, giant
        # batches multiply per-worker peak memory by active tasks and
        # collapse throughput at high parallelism (measured 5x)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "64g"))
        # the default 240m JIT code cache fills after ~15-20 distinct
        # query plans (whole-stage codegen emits classes per plan);
        # once full the JVM quietly stops compiling and interpreted
        # HOF/codegen loops run 2-4x slower (measured: same query 7.5s
        # fresh -> 17.5s after 17 registry queries in one session)
        .config("spark.driver.extraJavaOptions", "-XX:ReservedCodeCacheSize=1g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # scan split size (guide §6.1), env-parameterised: the local
        # default is sized to this sandbox's inputs (tables are single
        # files of 5-130 MB with 2-6 row groups; the 128m default read
        # lineitem's six row groups as ONE task, serializing every
        # lineitem scan). On a real cluster with 100 GB+ inputs set
        # SPARK_GRAFT_MAX_PARTITION_BYTES=512m-1g — large sequential
        # splits cut task overhead and the map-task count feeding
        # shuffles (§2.2); 16m only makes sense where files are tiny.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
    )
    # one compute thread per python worker: N workers each spinning up
    # an OpenMP/Arrow pool of machine-width oversubscribes the box
    # quadratically (N tasks x N threads) — measured ~2x on the fused
    # parse+reduce stage at local[32]. In local mode python workers
    # fork from this process, so set the env here (executorEnv covers
    # the cluster case).
    for env in ("OMP_NUM_THREADS", "ARROW_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                "MKL_NUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(env, "1")
        builder = builder.config(f"spark.executorEnv.{env}", "1")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
