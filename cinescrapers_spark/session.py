"""SparkSession factory tuned for this engine.

Defaults target the sandbox (local[N] on a 32-core host) but every knob is
what we would ship to a 1000-executor cluster: AQE on (skew-join splitting,
dynamic coalesce), Arrow on (all our Python stages are pandas-UDF batches),
shuffle partitions sized to cores locally / to data volume on a cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "cinescrapers-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver convention)
    falling back to ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Arrow for every executor<->python-worker hop (pandas UDFs,
        # toPandas, createDataFrame-from-pandas).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # AQE: runtime re-planning — coalesce tiny shuffle partitions,
        # split skewed ones, demote to broadcast when a side turns out small.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Let the planner pick shuffled-hash over sort-merge when the
        # build side fits: its per-partition size is under the broadcast
        # threshold x shuffle partitions AND it is 3x smaller than the
        # other side (spark.sql.shuffledHashJoinFactor), so equal-size
        # fact-fact joins still sort-merge. test_shj_smj_boundary pins
        # both sides of that boundary. AQE's skew handling still applies.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Naive London wall-clock discipline (reference stores naive
        # datetimes; SURVEY §7.3) — keep session TZ fixed so ntz/tz casts
        # are deterministic across hosts.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Don't stall the scheduler waiting for data-local slots: on the
        # single-box local-cluster used for scaling evidence every executor
        # is equidistant from every shuffle block, yet the default 3s wait
        # added ~10s of pure scheduler idle per tick at 8 executors
        # (measured: tick overhead 16.7s → 7s). On a real cluster this is
        # the same knob you drop when the network is fast relative to task
        # length.
        .config("spark.locality.wait", "0s")
        # Python workers fork from cinescrapers_spark.pydaemon: pyspark's
        # own daemon, except that the per-task importlib.invalidate_caches()
        # no longer re-reads the pyspark/py4j zip directories unless they
        # changed (58-84 ms of CPU per task, measured on Python 3.11).
        # Workers import the engine package to run its UDFs anyway, so the
        # module is importable wherever they are.
        .config("spark.python.daemon.module", "cinescrapers_spark.pydaemon")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
