"""SparkSession factory with scale-oriented defaults.

The engine targets a 1000-executor cluster reading ~100 TB; tests run on
local[N]. Every setting here is chosen to behave identically in both modes:
AQE handles partition coalescing / skew at runtime so the static
``shuffle.partitions`` is an upper bound, not a tuning knob per query.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def _host_memory_gb() -> int:
    """Usable physical memory in GB: the sysconf total clamped by the
    cgroup memory limit when one applies (r11 ADVICE, low: a
    memory-limited container on a large host would otherwise derive — and
    with AlwaysPreTouch eagerly commit — a heap sized to the HOST's RAM
    and get OOM-killed at startup). Reads cgroup v2 then v1; a missing or
    unlimited ("max" / huge sentinel) limit falls through to sysconf."""
    try:
        total = (os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")) >> 30
    except (ValueError, OSError, AttributeError):  # pragma: no cover
        total = 16
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            raw = open(path).read().strip()
        except OSError:
            continue
        if raw.isdigit():
            limit_gb = int(raw) >> 30
            # v1 reports an enormous sentinel when unlimited; only a
            # limit BELOW the physical total is a real container bound
            if 0 < limit_gb < total:
                total = limit_gb
        break
    return total


def default_driver_memory() -> str:
    """Machine-derived single-JVM heap: ~1.5 GB per core, floored at 8 GB
    then capped at half of system RAM (the cap wins on small hosts — a
    <16 GB machine gets half its RAM, never the 8 GB floor). In local mode the driver JVM hosts every
    executor thread, so the production sizing rule (GBs per core —
    ``local[32]`` at a fixed 8 GB is 250 MB/core) applies to it directly:
    the round-8/9 sf10 probes showed heavy sort/join stages exhausting
    the execution-memory pool at 8 GB across 32 concurrent tasks no
    matter how the data is partitioned. ``SPARK_GRAFT_DRIVER_MEM``
    remains an override, not a requirement. On a real cluster this
    setting is inert — executor memory is the cluster manager's knob."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    cpus = os.cpu_count() or 4
    total_gb = _host_memory_gb()
    # The half-of-RAM cap is applied AFTER the 8 GB floor so a small host
    # (<16 GB) never sees a driver heap request above half its RAM — the
    # floor is a sizing preference, the cap is a safety bound (2 GB hard
    # minimum keeps the JVM startable on tiny CI boxes).
    return f"{min(max(8, int(cpus * 1.5)), max(total_gb // 2, 2))}g"


def default_driver_xms() -> str:
    """Pre-touched heap FLOOR (-Xms): the working set the JVM commits and
    faults in at STARTUP instead of mid-query. Two measured pathologies on
    memory-bandwidth-starved hosts (this sandbox zero-fills fresh pages at
    ~0.1-1 GB/s) motivate it, both r11 findings:

    - lazy heap EXPANSION lands tens of GB of page faults inside whichever
      queries happen to trigger it — measured 3-10× intermittent stalls on
      individual bench runs (a 5 s query taking 28-70 s) with GC time and
      calibration rows healthy;
    - G1 UNCOMMITS regions after cleanup pauses, so the next heavy query
      re-pays faults for pages the JVM already owned. Xms is the floor G1
      never shrinks below, which ends the fault-refault churn.

    16 GB covers the bench working set with margin (the heaviest query
    family holds ~8 GB committed once pinned blocks are released between
    runs); ``-Xmx`` stays at :func:`default_driver_memory` so decade
    probes keep their headroom, paying lazy faults only above the floor.
    Clamped to the Xmx so small hosts never request Xms > Xmx.
    ``SPARK_GRAFT_DRIVER_XMS`` overrides (e.g. a probe that wants the
    whole heap pre-touched, or CI that wants a fast cold start)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_XMS")
    if env:
        return env
    xmx = default_driver_memory()
    try:
        xmx_gb = int(xmx.rstrip("gG"))
    except ValueError:
        # a non-"<N>g" SPARK_GRAFT_DRIVER_MEM override (e.g. "8192m"):
        # don't second-guess its unit — mirror it as the floor
        return xmx
    return f"{min(16, xmx_gb)}g"


def driver_java_options() -> str:
    """The pre-touched heap floor, then ``SPARK_GRAFT_DRIVER_JAVA_OPTS``:
    the JVM takes the last of a repeated flag, so the user's flags win."""
    return (f"-Xms{default_driver_xms()} -XX:+AlwaysPreTouch "
            + os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS", "")).strip()


def get_spark(app_name: str = "etl_adsbx_spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    - AQE on: runtime partition coalescing, skew-join splitting, and
      join-strategy switching — the 100-TB path relies on these instead of
      hand-tuned partition counts.
    - UTC session timezone: deterministic timestamp semantics that match the
      DuckDB oracle (naive-UTC parquet timestamps).
    - Arrow enabled: Pandas-UDF hot paths transfer columnar batches.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(DEFAULT_SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Posting-list explodes (jaccard_prefix_pairs, the tfidf-SimHash
        # composition) build per-partition window/agg state proportional to
        # rows/partition: at a fixed 32 partitions the sf10 probes needed a
        # hand-raised SPARK_GRAFT_SHUFFLE=256 + 48g heap (BASELINE.md,
        # round-8 third-decade note). Starting every shuffle fine-grained
        # and letting AQE COALESCE small stages keeps rows/partition
        # bounded as data grows with no per-query knob: small workloads
        # coalesce back to a handful of partitions, explode-heavy stages
        # keep the fan-out. This is the auto-sizing rule — the env vars
        # remain as overrides, not requirements.
        # SPARK_GRAFT_INIT_PARTS overrides (tests pin it to the shuffle
        # count: hypothesis property suites run hundreds of FEW-ROW Spark
        # jobs where the fine-grained start is pure per-job overhead —
        # measured ~3-4× suite slowdown; the data-sized runs that need the
        # fan-out — bench, decade probes — keep the 256 default).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get(
                "SPARK_GRAFT_INIT_PARTS",
                str(max(256, DEFAULT_SHUFFLE_PARTITIONS)),
            ),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # The ContextCleaner only unpersists an RDD once the DRIVER JVM
        # garbage-collects its handle; its safety-net System.gc() fires
        # every 30 min by default — far too slow for long sessions that
        # construct thousands of short-lived checkpoints/persists (the
        # pytest suite, iterative fits): dead blocks pile up for the
        # whole run and the heap growth page-faults fresh OS pages
        # mid-query (the r11 stall pathology; measured r12: late-suite
        # tests ran up to ~10× their isolated time). 5 min keeps the
        # backlog bounded at the cost of one cheap driver full-GC per
        # interval; explicit frees (bench release_pins, operators'
        # unpersist discipline) remain the first line.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "5min"),
        )
        # Spark 4.1's ChecksumCheckpointFileManager leaks its I/O thread
        # pools PER STREAMING QUERY — measured r12: 128 threads per
        # stateful query, surviving q.stop() (a zombie or long test
        # session accumulates 1000+ JVM threads and every later job slows
        # ~10×). Checkpoint-file checksums protect against object-store
        # corruption; local-disk checkpoints (tests, single-box runs)
        # get no benefit, so default OFF here and let a cluster deploy
        # re-enable via env once the upstream leak is fixed.
        .config(
            "spark.sql.streaming.checkpoint.fileChecksum.enabled",
            os.environ.get("SPARK_GRAFT_CHECKPOINT_CHECKSUM", "false"),
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", default_driver_memory())
        # Heap floor + pre-touch: fault the working set in at startup
        # (outside any measured region) rather than inside queries — see
        # default_driver_xms for the measured stall pathology. Applied at
        # JVM launch; a no-op when an existing session is reused.
        .config("spark.driver.extraJavaOptions", driver_java_options())
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
