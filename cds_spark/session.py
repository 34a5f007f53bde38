"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100TB design point, scaled down by env for the
local[32] sandbox:

- AQE on (runtime coalesce + skew-join splitting) — the reference handles
  skew implicitly via client-side siphash sharding (pkg/ckgroup/common.go:153-162);
  we let AQE split skewed partitions and add explicit salting in merge.
- Arrow enabled for the (rare) pandas-UDF paths.
- UTC session timezone: the reference pins Asia/Shanghai at insert
  (cmd/dm/choperator/ckgroupoperator.go:36-43); we pin UTC so replay is
  deterministic across machines.
"""

from __future__ import annotations

import os
import shutil
import subprocess

from pyspark.sql import SparkSession

# HotSpot refuses to JIT-compile methods over 8000 bytecodes
# (DontCompileHugeMethods) — and whole-stage codegen routinely emits
# projection methods past that line once a select carries a handful of
# guarded-regex/coalesce chains (the lenient coercion layer does). The
# symptom is brutal and silent: the hottest generated method in the plan
# runs INTERPRETED forever. Measured on the replay decode stage (1M events,
# 4 cores): 3.63s -> 1.59s from this one flag. Spark's own
# spark.sql.codegen.hugeMethodLimit exists for the same reason.
_JIT_OPTS = "-XX:-DontCompileHugeMethods"


def _merge_java_opts(conf: dict) -> None:
    """Ensure _JIT_OPTS survives caller-supplied extraJavaOptions instead of
    being clobbered by a dict update."""
    for k in ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions"):
        cur = conf.get(k, "")
        if _JIT_OPTS not in cur:
            conf[k] = f"{cur} {_JIT_OPTS}".strip()


_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE coalesces by BYTES, but dedup/similarity verify stages are heavy
    # CPU-per-byte (array intersections over candidate pairs): the 64MB
    # default advisory collapsed those stages to 1-3 tasks (44s single-core
    # minhash verify at sf0.1; 8s with these). Raise advisory back up for
    # IO-bound 100TB scans — this default favors dense-compute plans.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1m",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # map_concat last-wins: payload values override injected envelope values
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.ui.enabled": "false",
    # local mode = ONE JVM hosting all task slots. Do NOT oversize the heap:
    # without libhadoop, Hadoop's RawLocalFileSystem shells out (fork+exec)
    # ~200x per write job for chmod/stat, and fork cost scales with JVM RSS
    # (page-table copy under mmap_lock). At 48g, G1 let RSS balloon to ~33GB
    # and every file-writing job intermittently stalled 10-50s at ~90% kernel
    # time across all 32 cores; at <=16g the same jobs are stable. A real
    # cluster sizes per-executor memory (4-8g typical) — same envelope.
    "spark.driver.memory": os.environ.get("CDS_SPARK_DRIVER_MEM", "12g"),
    # skip the client-side .crc shadow files: halves file ops (and their
    # fork+exec cost) for local writes; durability is the lake manifest's job.
    # Overridden to FastLocalFileSystem (no-op chmod/chown) below when the
    # compiled class is present.
    "spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.RawLocalFileSystem",
    # commit algorithm v2: task output moved straight to the job dir (one
    # rename per file, no second job-commit rename pass)
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version": "2",
    # parquet writer defaults: zstd ~ snappy speed here at 2x better ratio
    "spark.sql.parquet.compression.codec": "zstd",
    # TIMESTAMP_MICROS over legacy INT96: matches Spark's internal precision,
    # smaller on disk, and pyarrow reads it back as timestamp[us, tz=UTC] —
    # the exact type the Arrow-local merge/compact tasks canonicalize to
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # PySpark's DataFrame call-site capture: when on (the default), every
    # `functions` / Column call also reads the active session and a conf
    # over py4j and sets then clears a JVM origin — four extra gateway
    # round trips per call. Turning it off alone took the dedup tick's
    # MinHash builders from 2 189 + 1 727 commands to 1 219 + 427 and the
    # ANN bucket expression from 3 331 to 2 671. The cost: Spark error
    # messages no longer carry the Python call site ("DataFrame query
    # context"); the failing expression is still named.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def _java_major() -> int | None:
    """Feature version of the JVM Spark will launch (cached)."""
    global _JAVA_MAJOR
    if _JAVA_MAJOR != 0:
        return _JAVA_MAJOR
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.exists(java):
        java = shutil.which("java")
    major = None
    if java:
        try:
            import re

            out = subprocess.run(
                [java, "-version"], capture_output=True, text=True, timeout=30
            )
            m = re.search(r'version "(\d+)(?:\.(\d+))?', out.stderr + out.stdout)
            if m:
                major = int(m.group(1))
                if major == 1 and m.group(2):  # legacy "1.8.0" scheme
                    major = int(m.group(2))
        except Exception:
            major = None
    _JAVA_MAJOR = major
    return major


_JAVA_MAJOR: int | None = 0  # 0 = not probed yet


def _class_major(path: str) -> int | None:
    """Bytecode major version of a .class file (61 = Java 17), or None if
    the file isn't valid classfile bytes."""
    try:
        with open(path, "rb") as f:
            head = f.read(8)
    except OSError:
        return None
    if len(head) < 8 or head[:4] != b"\xca\xfe\xba\xbe":
        return None
    return int.from_bytes(head[6:8], "big")


def _ensure_fast_local_fs(jvm_dir: str) -> str | None:
    """Compile FastLocalFileSystem.java against the LOCAL JDK on first use,
    into a gitignored, JVM-version-keyed build dir
    (``jvm/build/jdk{major}/``). No binary is ever committed, and a class is
    only ACCEPTED after a load-compatibility probe: its classfile major
    version must not exceed the running JVM's (a stale/foreign binary would
    otherwise brick every file op with UnsupportedClassVersionError instead
    of falling back). Returns the classpath dir to install, or None for the
    plain RawLocalFileSystem fallback."""
    jvm_major = _java_major()
    if jvm_major is None:
        return None
    build = os.path.join(jvm_dir, "build", f"jdk{jvm_major}")
    cls = os.path.join(build, "FastLocalFileSystem.class")
    cm = _class_major(cls)
    if cm is not None and cm - 44 <= jvm_major:
        return build
    src = os.path.join(jvm_dir, "FastLocalFileSystem.java")
    javac = shutil.which("javac") or os.path.join(
        os.environ.get("JAVA_HOME", ""), "bin", "javac"
    )
    if not (os.path.exists(src) and javac and os.path.exists(javac)):
        return None
    try:
        import pyspark

        jars = os.path.join(os.path.dirname(os.path.abspath(pyspark.__file__)), "jars", "*")
        os.makedirs(build, exist_ok=True)
        subprocess.run(
            [javac, "-cp", jars, "-d", build, src],
            check=True, capture_output=True, timeout=120,
        )
    except Exception:
        return None
    cm = _class_major(cls)
    return build if cm is not None and cm - 44 <= jvm_major else None


def submit_session(
    app_name: str = "cds-spark-job",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """SparkSession for a ``spark-submit``-launched driver (the north rule's
    deployment mode: ``spark-submit --py-files dist/cds_spark.zip job.py``).

    Unlike :func:`get_spark` this sets NO master — cluster topology comes
    from the submit command line — and skips JVM-launch options, which are
    inert once the driver JVM exists (set ``--driver-memory`` /
    ``--driver-class-path`` as spark-submit flags instead). Only the
    SQL-semantics defaults the engine depends on are applied: LAST_WIN map
    dedup (decode patch/inject overwrite order), UTC session timezone
    (deterministic replay), AQE, Arrow. Works when ``cds_spark`` is imported
    from a ``--py-files`` zip: the FastLocalFileSystem compile is skipped
    (zip paths aren't compilable) and the stock filesystem is kept."""
    builder = SparkSession.builder.appName(app_name)
    conf = {
        k: v
        for k, v in _DEFAULTS.items()
        if not k.startswith(("spark.driver.", "spark.hadoop.fs.file."))
    }
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    # driver opts are inert post-launch in submit mode, but executors are
    # launched from this conf — they must not run huge codegen interpreted
    _merge_java_opts(conf)
    conf.pop("spark.driver.extraJavaOptions", None)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def get_spark(
    app_name: str = "cds-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` pins ``local[N]`` — used by the scaling bench to run the same
    job at two parallelism levels (the in-sandbox stand-in for N vs 4N
    executors). Otherwise ``CDS_SPARK_MASTER`` / ``local[*]``.
    """
    if cores:
        master = f"local[{cores}]"
    else:
        master = os.environ.get("CDS_SPARK_MASTER", "local[*]")
    builder = SparkSession.builder.appName(app_name).master(master)
    n_shuffle = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_CPUS", os.environ.get("CDS_SHUFFLE_PARTITIONS", "32"))
    )
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(n_shuffle)
    # FastLocalFileSystem (cds_spark/jvm): RawLocalFileSystem with chmod/chown
    # shell-outs no-opped — each one is a fork whose cost scales with JVM RSS
    # in this sandbox (~3.5s of fixed cost per micro-batch measured without it)
    jvm_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
    fs_cp = _ensure_fast_local_fs(jvm_dir)
    if fs_cp:
        conf["spark.driver.extraClassPath"] = fs_cp
        conf["spark.hadoop.fs.file.impl"] = "FastLocalFileSystem"
    if extra_conf:
        conf.update(extra_conf)
    _merge_java_opts(conf)
    if fs_cp:
        # a caller-supplied extraClassPath must MERGE with the
        # FastLocalFileSystem class dir, not clobber it — fs.file.impl
        # still names the class, so dropping it from the classpath bricks
        # every file operation with ClassNotFoundException (the same
        # clobbering _merge_java_opts prevents for extraJavaOptions)
        cp = conf.get("spark.driver.extraClassPath", "")
        if fs_cp not in cp.split(os.pathsep):
            conf["spark.driver.extraClassPath"] = (
                f"{cp}{os.pathsep}{fs_cp}" if cp else fs_cp)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
