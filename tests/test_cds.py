"""The driver JVM's class-data-sharing archive (``cds.py``).

The unit tests drive ``prepare`` and ``publish`` against a fake Spark
and JDK install. The end-to-end tests start real driver JVMs in
subprocesses, each with its own cache dir, and check that every start,
whatever state the archive is in, gives a working session and prints
nothing but the script's own line on stdout.
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import textwrap

import pytest

from datafusion_wasm_bindings_spark import cds

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- unit: prepare / publish ----------------------------------------------

@pytest.fixture()
def env(tmp_path):
    spark_home = tmp_path / "spark"
    (spark_home / "jars").mkdir(parents=True)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (spark_home / "conf").mkdir()
    (spark_home / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    java_home = tmp_path / "jdk"
    (java_home / "lib").mkdir(parents=True)
    (java_home / "lib" / "modules").write_bytes(b"modules")
    return {
        "SPARK_HOME": str(spark_home),
        "JAVA_HOME": str(java_home),
        "XDG_CACHE_HOME": str(tmp_path / "missing" / "cache"),
    }


def _archive(env) -> str:
    key = cds.archive_key(env["SPARK_HOME"], env["JAVA_HOME"])
    return os.path.join(cds.cache_dir(env), f"{key}.jsa")


def test_first_start_dumps_under_a_lock(env):
    launch = cds.prepare(env, {})
    assert launch.temp == f"{launch.archive}.{os.getpid()}.tmp"
    assert launch.java_options == f"-XX:ArchiveClassesAtExit={launch.temp} {cds.LOG_OFF}"
    assert os.path.isdir(launch.conf_dir) and not os.listdir(launch.conf_dir)
    with open(launch.lock) as f:
        assert f.read() == str(os.getpid())
    # a concurrent start finds the lock held and starts plain
    assert cds.prepare(env, {}) is None


def test_archive_present_is_mapped_without_a_lock(env):
    archive = _archive(env)
    os.makedirs(os.path.dirname(archive))
    open(archive, "wb").close()
    launch = cds.prepare(env, {})
    assert launch.java_options == f"-XX:SharedArchiveFile={archive} {cds.LOG_OFF}"
    assert launch.lock is None and not os.path.exists(archive + ".lock")


def test_archive_is_keyed_by_the_jar_set(env):
    key = cds.archive_key(env["SPARK_HOME"], env["JAVA_HOME"])
    with open(os.path.join(env["SPARK_HOME"], "jars", "extra.jar"), "wb") as f:
        f.write(b"jar")
    assert cds.archive_key(env["SPARK_HOME"], env["JAVA_HOME"]) != key


def test_stale_lock_is_taken_over(env):
    lock = _archive(env) + ".lock"
    os.makedirs(os.path.dirname(lock))
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    with open(lock, "w") as f:
        f.write(str(dead.pid))
    left = _archive(env) + ".1.tmp"  # a half-written archive of a dead dumper
    open(left, "wb").close()
    launch = cds.prepare(env, {})
    assert launch is not None and launch.lock == lock
    assert not os.path.exists(left)


def test_old_lock_is_taken_over_even_with_a_live_pid(env):
    lock = _archive(env) + ".lock"
    os.makedirs(os.path.dirname(lock))
    with open(lock, "w") as f:
        f.write("1")
    past = os.path.getmtime(lock) - cds.LOCK_MAX_AGE_S - 60
    os.utime(lock, (past, past))
    assert cds.prepare(env, {}).lock == lock


@pytest.mark.parametrize("var", cds._PLAIN_ENV)
def test_env_that_changes_the_launch_starts_plain(env, var):
    assert cds.prepare({**env, var: "x"}, {}) is None


@pytest.mark.parametrize("key", cds._PLAIN_CONF)
def test_conf_that_changes_the_launch_starts_plain(env, key):
    assert cds.prepare(env, {key: "x"}) is None


def test_conf_file_starts_plain(env, tmp_path):
    with open(os.path.join(env["SPARK_HOME"], "conf", "spark-defaults.conf"), "w") as f:
        f.write("spark.sql.shuffle.partitions 3\n")
    assert cds.prepare(env, {}) is None
    # an explicit SPARK_CONF_DIR is the conf dir that counts
    conf_dir = tmp_path / "templates-only"
    conf_dir.mkdir()
    assert cds.prepare({**env, "SPARK_CONF_DIR": str(conf_dir)}, {}) is not None


def test_uncreatable_cache_dir_starts_plain(env, tmp_path):
    blocker = tmp_path / "file"
    blocker.write_text("")
    assert cds.prepare({**env, "XDG_CACHE_HOME": str(blocker)}, {}) is None


@pytest.mark.parametrize(
    "exit_code, write, published",
    [(0, b"archive", True), (1, b"archive", False), (0, None, False)],
    ids=["clean-exit", "failed-exit", "no-archive-written"],
)
def test_publish_after_exit(env, exit_code, write, published):
    launch = cds.prepare(env, {})
    if write is not None:
        with open(launch.temp, "wb") as f:
            f.write(write)
    # stands in for the gateway JVM: exits once its stdin closes
    jvm = subprocess.Popen(
        [sys.executable, "-c", f"import sys; sys.stdin.read(); sys.exit({exit_code})"],
        stdin=subprocess.PIPE,
    )
    assert cds.publish(launch, jvm, timeout=60) is published
    assert jvm.returncode == exit_code
    assert os.path.exists(launch.archive) is published
    assert not os.path.exists(launch.temp) and not os.path.exists(launch.lock)


# -- end to end: real driver JVMs -----------------------------------------

_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, {repo!r})
    from datafusion_wasm_bindings_spark.session import get_spark

    spark = get_spark("cds-test")
    print(spark.range(3).count(), spark.conf.get("spark.dfwb.marker", "unset"))
    """
)


def _start(cache: str, **extra_env) -> subprocess.Popen:
    env = {k: v for k, v in os.environ.items() if k not in cds._PLAIN_ENV}
    env.update(XDG_CACHE_HOME=cache, SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    env.update(extra_env)
    return subprocess.Popen(
        [sys.executable, "-c", _SCRIPT.format(repo=REPO)],
        env=env, cwd=REPO, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def _stdout(proc: subprocess.Popen) -> str:
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, err[-3000:]
    return out


def _files(cache: str, pattern: str) -> list[str]:
    return glob.glob(os.path.join(cache, cds.CACHE_SUBDIR, pattern))


def test_concurrent_first_starts_publish_one_archive_the_next_start_maps(tmp_path):
    cache = str(tmp_path / "missing" / "cache")
    first = [_start(cache), _start(cache)]
    assert [_stdout(p) for p in first] == ["3 unset\n"] * 2
    assert len(_files(cache, "*.jsa")) == 1
    assert _files(cache, "*.tmp") == [] and _files(cache, "*.lock") == []
    # the class-load log names the archive as the source of what it held
    log = tmp_path / "load_%p.log"
    out = _stdout(_start(cache, JAVA_TOOL_OPTIONS=f"-Xlog:class+load=info:file={log}"))
    assert out == "3 unset\n"
    shared = max(
        open(p).read().count("source: shared objects file (top)")
        for p in glob.glob(str(tmp_path / "load_*.log"))
    )
    assert shared > 1000


def test_garbage_archive_gives_a_working_session(tmp_path):
    cache = str(tmp_path / "cache")
    from pyspark.find_spark_home import _find_spark_home

    java_home = cds._java_home(os.environ)
    archive = os.path.join(
        cds.cache_dir({"XDG_CACHE_HOME": cache}),
        cds.archive_key(os.environ.get("SPARK_HOME") or _find_spark_home(), java_home) + ".jsa",
    )
    os.makedirs(os.path.dirname(archive))
    with open(archive, "wb") as f:
        f.write(os.urandom(1 << 16))
    assert _stdout(_start(cache)) == "3 unset\n"


def test_conf_file_gives_a_plain_start_that_reads_it(tmp_path):
    cache = str(tmp_path / "cache")
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.dfwb.marker read\n")
    assert _stdout(_start(cache, SPARK_CONF_DIR=str(conf_dir))) == "3 read\n"
    assert not os.path.exists(os.path.join(cache, cds.CACHE_SUBDIR))
