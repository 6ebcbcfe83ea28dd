"""Start the driver JVM from a class-data-sharing (CDS) archive.

A fresh Spark driver parses and verifies about 11,000 Spark, Scala and
Hadoop classes before its first statement runs. A dynamic CDS archive
holds those classes already parsed and verified, and the JVM maps it
at start. Measured on a 4-vCPU VM (JDK 17.0.20, Spark 4.1.2, local[4]):
session start 5.0 → 2.7 s and the first query 2.9 → 1.3 s.

The archive is built by the first JVM that finds none: it runs with
``-XX:ArchiveClassesAtExit=<temp>``, the JVM writes the archive while it
exits (about 10 s), and the temp file is renamed to its final name only
after the JVM has exited cleanly. A concurrent start therefore sees
either no archive or a whole one. Later JVMs run with
``-XX:SharedArchiveFile=<archive>``. The JVM checks the archive itself
and ignores one that does not fit; ``-Xlog:cds*=off`` keeps its
warnings off stdout, which PySpark's JVM shares with the Python process.

Two constraints shape the launch:

- The flags go in ``spark.driver.defaultJavaOptions``: a caller's
  ``spark.driver.extraJavaOptions`` is appended to them rather than
  replacing them.
- CDS refuses a non-empty directory on the classpath, and Spark puts
  its conf dir there. When that dir holds nothing Spark reads (only
  ``*.template`` files, as a Spark install ships it), the launch points
  ``SPARK_CONF_DIR`` at an empty dir instead. Any real conf file means
  a plain start, so the user's config wins.
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import shutil
import subprocess
import time
from collections.abc import Mapping
from contextlib import suppress
from dataclasses import dataclass

from pyspark.sql import SparkSession

CACHE_SUBDIR = os.path.join("datafusion-wasm-bindings-spark", "cds")
LOG_OFF = "-Xlog:cds*=off"
# A lock older than this is taken over even if its pid is alive: after a
# restart the pid may belong to another process. A second dumper is
# harmless anyway (each writes its own temp file; the rename is atomic).
LOCK_MAX_AGE_S = 24 * 3600
# how long the process waits at exit for its JVM to write the archive
DUMP_TIMEOUT_S = 120

# Each of these adds to the driver classpath (or bypasses the launch), so
# an archive dumped without it would not fit: start plain.
_PLAIN_ENV = (
    "SPARK_CONNECT_MODE_ENABLED",
    "PYSPARK_GATEWAY_PORT",
    "PYSPARK_SUBMIT_ARGS",
    "SPARK_CLASSPATH",
    "SPARK_DIST_CLASSPATH",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
)
_PLAIN_CONF = ("spark.driver.extraClassPath", "spark.driver.defaultJavaOptions")


@dataclass(frozen=True)
class Launch:
    """How the next driver JVM starts. ``temp`` and ``lock`` are set
    when this JVM writes the archive at exit."""

    java_options: str
    conf_dir: str
    archive: str
    temp: str | None = None
    lock: str | None = None


def cache_dir(env: Mapping[str, str]) -> str:
    base = env.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, CACHE_SUBDIR)


def archive_key(spark_home: str, java_home: str) -> str:
    """Hash of the JDK build (its module image) and the Spark jar set:
    a new JDK or Spark install gets its own archive."""
    h = hashlib.sha1()
    paths = [os.path.join(java_home, "lib", "modules")]
    paths += sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))
    for path in paths:
        st = os.stat(path)
        h.update(f"{os.path.realpath(path)} {st.st_size} {st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _java_home(env: Mapping[str, str]) -> str | None:
    # the JVM spark-class runs: $JAVA_HOME/bin/java, else java on PATH
    if env.get("JAVA_HOME"):
        return env["JAVA_HOME"]
    java = shutil.which("java", path=env.get("PATH"))
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _templates_only(conf_dir: str) -> bool:
    try:
        return all(f.endswith(".template") for f in os.listdir(conf_dir))
    except FileNotFoundError:
        return True


def _stale(lock: str) -> bool:
    try:
        age = time.time() - os.path.getmtime(lock)
        with open(lock) as f:
            pid = f.read()
    except FileNotFoundError:
        return True
    if age > LOCK_MAX_AGE_S:
        return True
    if not pid.isdigit():  # its owner has not written its pid yet
        return False
    try:
        os.kill(int(pid), 0)
    except ProcessLookupError:
        return True
    except PermissionError:
        pass
    return False


def _take_lock(lock: str) -> bool:
    """Create ``lock`` with O_EXCL, taking over a stale one once."""
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            if not _stale(lock):
                return False
            with suppress(FileNotFoundError):
                os.remove(lock)
            continue
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def prepare(env: Mapping[str, str], conf: Mapping[str, str]) -> Launch | None:
    """Decide how a new driver JVM starts: from the archive, dumping
    the archive, or plain (``None``)."""
    from pyspark.find_spark_home import _find_spark_home

    if any(env.get(k) for k in _PLAIN_ENV) or any(k in conf for k in _PLAIN_CONF):
        return None
    spark_home = env.get("SPARK_HOME") or _find_spark_home()
    java_home = _java_home(env)
    conf_dir = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if not java_home or not _templates_only(conf_dir):
        return None
    cache = cache_dir(env)
    empty_conf = os.path.join(cache, "empty-conf")
    try:
        archive = os.path.join(cache, f"{archive_key(spark_home, java_home)}.jsa")
        # Spark's launcher splits the options string on whitespace
        if any(c.isspace() or c in "'\"\\" for c in archive):
            return None
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf):
            return None
        if os.path.exists(archive):
            return Launch(f"-XX:SharedArchiveFile={archive} {LOG_OFF}", empty_conf, archive)
        lock = archive + ".lock"
        if not _take_lock(lock):
            return None
    except OSError:
        return None
    for left in glob.glob(archive + ".*.tmp"):  # from a dumper that died
        with suppress(OSError):
            os.remove(left)
    temp = f"{archive}.{os.getpid()}.tmp"
    return Launch(f"-XX:ArchiveClassesAtExit={temp} {LOG_OFF}", empty_conf, archive, temp, lock)


def publish(launch: Launch, proc: subprocess.Popen | None, timeout: float = DUMP_TIMEOUT_S) -> bool:
    """Let the dumping JVM exit, then move its archive to the final name
    if it exited cleanly. Always removes the temp file and the lock."""
    try:
        if proc is not None and proc.poll() is None:
            # PySpark's gateway JVM exits when its stdin closes; the
            # archive is written during that exit
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if proc is not None and proc.returncode == 0 and os.path.getsize(launch.temp) > 0:
            os.replace(launch.temp, launch.archive)
            return True
    except OSError:
        pass
    finally:
        for path in (launch.temp, launch.lock):
            with suppress(OSError):
                os.remove(path)
    return False


def get_or_create(builder: SparkSession.Builder, conf: Mapping[str, str]) -> SparkSession:
    """``builder.getOrCreate()``, starting a new driver JVM from the CDS
    archive when one is launched here."""
    from pyspark import SparkContext

    launch = prepare(os.environ, conf) if SparkContext._gateway is None else None
    if launch is None:
        return builder.getOrCreate()
    builder.config("spark.driver.defaultJavaOptions", launch.java_options)
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if launch.lock:
            publish(launch, None)
        raise
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if launch.lock:
        atexit.register(publish, launch, getattr(SparkContext._gateway, "proc", None))
    return spark
