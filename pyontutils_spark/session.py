"""SparkSession factory with the engine's standard configuration.

Local mode is a stand-in for a multi-executor cluster: everything that
matters at 1000 executors (AQE, skew-join splitting, Arrow batching,
shuffle partition sizing) is configured here so the same code ships via
``spark-submit --py-files`` unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: tmpfs holds shuffle and spill files in RAM: it is the default scratch
#: only with at least this much free, so a spill-heavy job falls back to
#: Spark's disk default instead of exhausting host memory
MIN_TMPFS_FREE_BYTES = 4 << 30


def default_local_dir(shm: str = "/dev/shm") -> str | None:
    """The per-user tmpfs scratch dir, or None (Spark's default) when
    ``shm`` is missing or has less than MIN_TMPFS_FREE_BYTES free.  The
    uid suffix keeps two OS users on one host out of each other's
    files."""
    try:
        st = os.statvfs(shm)
    except OSError:
        return None
    if st.f_bavail * st.f_frsize < MIN_TMPFS_FREE_BYTES:
        return None
    return os.path.join(shm, f"spark-graft-local-{os.getuid()}")


def get_spark(app: str = "pyontutils_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None,
              driver_memory: str = "16g",
              extra: dict | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 4)
    # Shuffle/spill scratch space belongs on the fastest local storage
    # (guide: shuffle cost shows up as disk+fetch in the downstream
    # stage).  Parameterised: SPARK_GRAFT_LOCAL_DIR overrides; default
    # to a per-user tmpfs dir when it has room (measured ~10% on
    # shuffle-heavy graph iteration plus far lower variance), else
    # leave Spark's default.  Cluster managers (YARN/K8s) override
    # spark.local.dir themselves, so this only shapes local/standalone
    # runs.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None:
        local_dir = default_local_dir()
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
    b = (SparkSession.builder
         .master(f"local[{cores}]")
         .appName(app)
         .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.driver.memory", driver_memory)
         .config("spark.ui.enabled", "false")
         .config("spark.sql.files.maxPartitionBytes", "134217728"))
    if local_dir:
        b = b.config("spark.local.dir", local_dir)
        # Compression is tied to the shuffle MEDIUM, not hardcoded:
        # with scratch on tmpfs the bytes never touch a disk or NIC in
        # local mode, so lz4 is pure CPU overhead (measured ~16% on the
        # shuffle-heavy closure loops).  On clusters the manager sets
        # spark.local.dir itself, this branch never fires, and Spark's
        # compressed default stands.  SPARK_GRAFT_SHUFFLE_COMPRESS=true
        # forces compression back on even for tmpfs.
        if (local_dir.startswith("/dev/shm")
                and os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS",
                                   "").lower() != "true"):
            b = (b.config("spark.shuffle.compress", "false")
                 .config("spark.shuffle.spill.compress", "false"))
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
