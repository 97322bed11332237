"""SparkSession factory.

Local-mode testing stands in for a multi-executor cluster; every knob here is
chosen so the *same plan* is the one we'd want on 1000 executors:
AQE on (runtime coalesce + skew-join splitting), shuffle partitions sized to
parallelism (not the 200 default), Arrow enabled for every pandas-UDF exchange,
UTC session time so results are reproducible against the DuckDB oracle.
AQE also coalesces the shuffles under persisted frames, so a few-KB hourly
stage under a cached frame runs as one Python task (~0.35 s of worker
overhead each), not one per shuffle partition.

Reference analogue: the MPI rank split in /root/reference/kf/readinput.py:166-212
(`dividepxls`) hand-rolls what `repartition` + AQE give us for free.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# RawLocalFileSystem minus the per-path chmod: without the native hadoop
# library (this environment has none — NativeCodeLoader warns), every file
# and directory a local write creates goes through setPermission →
# Shell.execCommand, i.e. a forked `chmod` PROCESS per path. Thread dumps
# of a 1588-partition tier commit showed 23/32 writer threads inside that
# fork at any instant; the write drops 2.8 s → 1.4 s with the no-op
# (min-of-3, interleaved). The process umask already yields the intended
# local modes, and cluster schemes (hdfs://, s3a://) never touch this
# file:// mapping.
_NOCHMOD_SRC = """
package kfts;

import java.io.IOException;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

public class NoPermLocalFileSystem extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission)
            throws IOException {
        // no-op: rely on the process umask (no native lib -> the default
        // implementation forks a `chmod` shell process per path)
    }
}
"""


def _no_chmod_fs() -> tuple[str, str | None]:
    """(fs.file.impl class name, extra driver classpath or None).

    Compiles the subclass once into a cached jar, with ``javac --release``
    set to the major version of the ``java`` that runs Spark, so a newer
    javac cannot emit a class that JVM refuses to load. Any failure
    (unreadable java version, no javac, no hadoop jar, read-only cache)
    falls back to the stock RawLocalFileSystem, which is correct but pays
    the chmod forks."""
    import glob
    import hashlib
    import re
    import shutil
    import subprocess
    import tempfile

    fallback = ("org.apache.hadoop.fs.RawLocalFileSystem", None)
    try:
        # spark-submit runs $JAVA_HOME/bin/java, else `java` on PATH; no
        # java or an unparsable version raises → fallback
        jh = os.environ.get("JAVA_HOME")
        java = os.path.join(jh, "bin", "java") if jh else "java"
        ver = subprocess.run(
            [java, "-version"], capture_output=True, text=True, timeout=60
        ).stderr
        # 'version "17.0.20"' → 17; legacy 'version "1.8.0_392"' → 8
        release = re.search(r'version "(?:1\.)?(\d+)', ver).group(1)
        tag = hashlib.md5(f"{_NOCHMOD_SRC}{release}".encode()).hexdigest()[:10]
        cache = os.path.join(
            os.path.expanduser("~"), ".cache", "kfts_insar_spark"
        )
        jar = os.path.join(cache, f"nochmod_{tag}.jar")
        if not os.path.exists(jar):
            javac = shutil.which("javac")
            jartool = shutil.which("jar")
            if javac is None or jartool is None:
                return fallback
            import pyspark

            cps = glob.glob(
                os.path.join(
                    os.path.dirname(pyspark.__file__),
                    "jars",
                    "hadoop-client-api-*.jar",
                )
            )
            if not cps:
                return fallback
            os.makedirs(cache, exist_ok=True)
            with tempfile.TemporaryDirectory(dir=cache) as td:
                src = os.path.join(td, "kfts", "NoPermLocalFileSystem.java")
                os.makedirs(os.path.dirname(src), exist_ok=True)
                with open(src, "w") as f:
                    f.write(_NOCHMOD_SRC)
                subprocess.run(
                    [javac, "--release", release, "-cp", cps[0], src],
                    check=True,
                    capture_output=True,
                    timeout=120,
                )
                tmp_jar = os.path.join(td, "nochmod.jar")
                subprocess.run(
                    [jartool, "cf", tmp_jar, "-C", td, "kfts"],
                    check=True,
                    capture_output=True,
                    timeout=120,
                )
                os.replace(tmp_jar, jar)  # atomic vs concurrent builders
        return ("kfts.NoPermLocalFileSystem", jar)
    except Exception:
        return fallback


def get_spark(
    app_name: str = "kfts_insar_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores=None`` → ``local[*]``. On a real cluster this builder is bypassed
    by ``spark-submit`` conf; everything here is also safe to set cluster-side.
    """
    # Pin BLAS/OMP to one thread per Python worker: Spark already gives one
    # worker per core, so library-level threading multiplies to cores² and
    # thrashes (the reference pins OMP_NUM_THREADS for its MPI ranks the same
    # way, run_KFTS.slurm:13). Must happen before numpy loads in workers —
    # workers fork from a daemon that inherits this env.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    if cores is None:
        env_cores = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{env_cores}]" if env_cores else "local[*]"
        n = int(env_cores) if env_cores else (os.cpu_count() or 8)
    else:
        master = f"local[{cores}]"
        n = cores

    sp = shuffle_partitions or max(DEFAULT_SHUFFLE_PARTITIONS, n)

    _fs_impl, _fs_jar = _no_chmod_fs()

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce the shuffles under persisted frames too (Spark
        # leaves this off, so a cached plan keeps all its shuffle
        # partitions): an hourly increment's Kalman mapInPandas stage ran
        # as 32 Python tasks, 3.9 s, for ~8 ms of kernel work; coalesced
        # it is one task, and an increment drops from 325 tasks to 46
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # deterministic float semantics; ANSI off so overflow/div0 match the
        # legacy semantics the oracle arithmetic assumes (we never rely on
        # either, but a hard error mid-benchmark is worse than a null)
        .config("spark.sql.ansi.enabled", "false")
        # v2 file-output commit: task-side renames instead of a driver-side
        # sequential pass over every partition dir — the snapshot layer's
        # manifest (not _SUCCESS markers) is the source of truth, so the
        # weaker job-level atomicity of v2 is irrelevant here, and
        # partitioned tier writes (one dir per pday) commit O(files/tasks)
        # instead of O(files) on the driver
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # local file:// goes through Hadoop's ChecksumFileSystem by default,
        # which writes (and renames) a .crc sidecar per output file — for
        # tier commits fanning ~1600 one-file-per-day partitions that is
        # ~1600 extra creates+renames per write (measured 25-30% of the
        # partitioned-write wall). Parquet's own footer/magic validation
        # covers integrity; cluster schemes (hdfs://, s3a://) are unaffected
        # by this file://-only mapping. The mapped class additionally no-ops
        # setPermission (see _no_chmod_fs — per-path chmod FORKS dominate
        # many-partition writes without the native hadoop lib).
        .config("spark.hadoop.fs.file.impl", _fs_impl)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
    )
    if _fs_jar is not None:
        # the driver must be able to load the mapped class; merge with any
        # caller-supplied classpath rather than clobbering it
        user_cp = (extra_conf or {}).get("spark.driver.extraClassPath")
        cp = _fs_jar if not user_cp else f"{_fs_jar}{os.pathsep}{user_cp}"
        b = b.config("spark.driver.extraClassPath", cp)
    for k, v in (extra_conf or {}).items():
        if k == "spark.driver.extraClassPath" and _fs_jar is not None:
            continue  # merged above
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ship the package to Python workers (same artifact spark-submit
    # --py-files would ship on a real cluster) so UDF closures unpickle
    # regardless of the driver's cwd
    from .packaging import attach_package

    attach_package(spark)
    return spark
