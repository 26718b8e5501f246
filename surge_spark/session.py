"""SparkSession factory.

Local-mode settings mirror what a 1000-executor cluster deployment would use
where it matters (AQE, adaptive skew handling, Arrow, RocksDB streaming state
store); the only local-specific knobs are master/memory/shuffle-partition
count. At cluster scale, `spark.sql.shuffle.partitions` should be ~2-3x total
cores and is left to `spark-defaults.conf`; here it matches local cores so
tiny test data doesn't fragment into empty tasks.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

# Replaces surge's RocksDB KTable store
# (modules/common/src/main/scala/surge/kafka/streams/AggregateStateStoreKafkaStreams.scala:22-35):
# Spark's built-in RocksDB state store provider plays the same role for
# streaming state, with changelog checkpointing instead of a compacted topic.
ROCKSDB_PROVIDER = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"


_SHIPPED: set[str] = set()


def _package_zip(pkg_dir: str) -> str:
    """Zip of the package's ``.py`` files under ``pkg_dir``, named by a
    content hash of those files: a zip is reused only when it holds exactly
    this tree's code, so two checkouts (or a recycled pid) can never ship
    each other's modules. Written to a writer-unique temp name and renamed
    into place, so a concurrent writer never sees a partial zip."""
    import hashlib
    import tempfile
    import uuid
    import zipfile

    files = []
    for root, dirs, names in os.walk(pkg_dir):
        dirs.sort()
        for fname in sorted(names):
            if fname.endswith(".py"):
                full = os.path.join(root, fname)
                files.append((full, os.path.join("surge_spark", os.path.relpath(full, pkg_dir))))
    digest = hashlib.sha256()
    for full, rel in files:
        with open(full, "rb") as f:
            digest.update(rel.encode() + b"\0" + f.read() + b"\0")
    zpath = os.path.join(
        tempfile.gettempdir(), f"surge_spark_pkg_{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        tmp = f"{zpath}.{uuid.uuid4().hex}.tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for full, rel in files:
                zf.write(full, rel)
        os.replace(tmp, zpath)
    return zpath


def ensure_shipped(spark: SparkSession) -> None:
    """Make the surge_spark package importable on executor Python workers.

    Closures passed to applyInPandas/mapInPandas reference package functions,
    which cloudpickle serializes *by reference* — workers must import
    surge_spark. On a cluster that's a --py-files wheel; here we zip the
    package once per application and sc.addPyFile it, which covers any
    SparkSession regardless of the driver process's cwd/sys.path."""
    sc = spark.sparkContext
    app_id = sc.applicationId
    if app_id in _SHIPPED:
        return
    zpath = _package_zip(os.path.dirname(os.path.abspath(__file__)))
    sc.addPyFile(zpath)
    _SHIPPED.add(app_id)


def get_spark(app_name: str = "surge_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver contract for
    bench.py); defaults to all cores.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0)
    master = f"local[{cpus}]" if cpus else "local[*]"
    # match local parallelism so tiny test data doesn't fragment into empty
    # tasks; AQE coalescing handles the rest
    shuffle_parts = str(cpus or 32)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r15: allow shuffled-hash joins when the planner's per-partition
        # size conditions are met (guide §3.1/§9) — SMJ pays a sort on
        # both sides that the hash build skips. Measured on the SMJ-heavy
        # dedup entries at sf0.1 (interleaved, min-of-5): fuzzy-clusters
        # 4.03→3.53, semdedup 4.74→4.44, lsh-recall 4.82→4.40. Scale-safe:
        # the planner still falls back to SMJ when a build side may not
        # fit, and AQE's skew-join split applies to SHJ as well.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
        # Streaming metadata logs (offsets, commits, the file source log,
        # state checkpoints) through the FileSystem API instead of the
        # default FileContext one, which exists for HDFS's atomic
        # rename-without-overwrite and costs ~20 ms more per log write
        # here (three writes per trigger). Safe because this factory only
        # builds local[...] masters, and the snapshot store already
        # requires a local POSIX file system (os.link fencing, os.rename
        # publication).
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.sql.shuffle.spill.compress", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    # Deployment escape hatch (r16): extra confs from the environment, for
    # knobs that must be set at session build time (static SQL confs,
    # SparkConf core settings) without editing this file — the same role
    # spark-defaults.conf plays on a cluster. Format:
    # SPARK_GRAFT_EXTRA_CONFS="k=v;k2=v2". Applied LAST so an A/B can
    # override any default above; empty/absent is a no-op.
    applied = []
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            builder = builder.config(k.strip(), v.strip())
            applied.append(f"{k.strip()}={v.strip()}")
    if applied and SparkSession.getActiveSession() is None:
        # logged when the confs take effect (session creation), so a run
        # under a config that does not ship says so
        logging.getLogger(__name__).warning(
            "SPARK_GRAFT_EXTRA_CONFS applied: %s", "; ".join(applied)
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
