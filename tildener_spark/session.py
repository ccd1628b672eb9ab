"""SparkSession factory with the confs this engine relies on.

Tuned for correctness tests on local[*]; the same conf set is what we
would ship in spark-defaults for a 1000-executor cluster (AQE handles
the runtime re-planning; shuffle partition count is a starting point
AQE coalesces from).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "tildener-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS",
                              len(os.sched_getaffinity(0))))
    mem = os.environ.get("SPARK_DRIVER_MEM", "8g")
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: coalesce post-shuffle partitions + split skewed joins
        # (SURVEY.md §4.2; the mention-similarity self-join is skewed).
        .config("spark.sql.adaptive.enabled", "true")
        # InferFiltersFromGenerate clones the ENTIRE generator input
        # expression into an inferred size(...)>0 filter, which then
        # pushes below projections into the scan — for our interpreted
        # higher-order shingle/minhash expressions (and pandas UDFs,
        # the round-3 banding clone bug) that re-runs the most
        # expensive compute once per row at the scan, measured 3-30x
        # slowdowns.  The rows it would pre-drop (empty arrays) are
        # dropped by the non-outer Generate anyway; results identical.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # All our Python UDFs are pandas/Arrow (input_hint: no per-row
        # Python); Arrow transfer on, sane batch size for wide token
        # arrays.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Gazetteers (<10 MB) always broadcast.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", mem)
        # pin Xms = Xmx: at 32 concurrent tasks the first heavy
        # nested-Arrow stage otherwise triggers a heap-growth +
        # full-GC storm (measured: 27s first run vs 4s steady at
        # local[32]; no penalty at local[8]) — same reasoning as
        # setting spark.executor.memory floor on a real cluster
        .config("spark.driver.extraJavaOptions", f"-Xms{mem}")
        # shuffle + spill on disk: a tmpfs local dir would take its
        # bytes from the same RAM as the driver heap
        .config("spark.local.dir",
                os.environ.get("SPARK_LOCAL_DIRS",
                               os.path.join(tempfile.gettempdir(),
                                            "spark-local")))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    return builder.getOrCreate()


def noise_probe() -> dict:
    """Host-contention index for benchmark tagging: two fixed
    single-thread workloads timed — a pure-CPU int loop (sensitive to
    hypervisor CPU steal) and a 64 MB md5 stream (sensitive to
    memory-subsystem contention).  This sandbox is a shared VM where
    identical Spark runs measure 2-8x apart during neighbor-load
    episodes (round 3: 63 s vs 171 s within twenty minutes); bench
    harnesses record these probe times next to each wall number so an
    inflated measurement is attributable to host state rather than a
    code regression.  Calibration idle: cpu ~110 ms, mem ~110 ms."""
    import hashlib
    import time as _time
    t0 = _time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i * i
    cpu_ms = (_time.perf_counter() - t0) * 1000
    buf = b"\xa5" * (1 << 20)
    t0 = _time.perf_counter()
    h = hashlib.md5()
    for _ in range(64):
        h.update(buf)
    mem_ms = (_time.perf_counter() - t0) * 1000
    return {"probe_cpu_ms": round(cpu_ms, 1),
            "probe_mem_ms": round(mem_ms, 1)}
