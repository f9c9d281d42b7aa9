"""When ``get_spark`` launches the JVM with the class-data archive, and what
the JVM does with the archives it may be handed.  No test starts Spark."""

import os
import shutil
import subprocess

import pytest
from pyspark import SparkContext

from mmore_spark import session

MAGIC = (0xF00BABA8).to_bytes(4, "little")
OPTS = "-XX:+UnlockDiagnosticVMOptions"


@pytest.fixture
def home(tmp_path, monkeypatch):
    """A Spark home whose conf dir holds only templates, a JDK, an empty
    cache and no running JVM; returns the Spark home."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    java = tmp_path / "jdk" / "bin" / "java"
    java.parent.mkdir(parents=True)
    java.write_text("")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for var in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", "PYSPARK_SUBMIT_ARGS",
                "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    return home


def _launch(conf):
    """Run ``_class_archive`` as ``get_spark`` does; returns the conf and the
    SPARK_CONF_DIR the launch saw."""
    with session._class_archive(conf):
        return conf, os.environ.get("SPARK_CONF_DIR")


@pytest.mark.parametrize("conf_dir_var", [False, True])
def test_templates_only_conf_dir_gets_the_flag_for_the_launch(home, monkeypatch, conf_dir_var):
    if conf_dir_var:
        monkeypatch.setenv("SPARK_CONF_DIR", str(home / "conf"))
    before = os.environ.get("SPARK_CONF_DIR")
    conf, seen = _launch({"spark.driver.extraJavaOptions": OPTS})
    cache = session._cds_dir()
    assert seen == os.path.join(cache, "conf") and os.listdir(seen) == []
    assert os.environ.get("SPARK_CONF_DIR") == before
    opts = conf["spark.driver.extraJavaOptions"]
    assert opts.startswith(OPTS + " -XX:ArchiveClassesAtExit=" + cache + os.sep)


def test_real_conf_file_leaves_the_launch_alone(home):
    (home / "conf" / "spark-defaults.conf").write_text("spark.driver.memory 1g\n")
    env = dict(os.environ)
    conf, seen = _launch({"spark.driver.extraJavaOptions": OPTS})
    assert conf == {"spark.driver.extraJavaOptions": OPTS}
    assert seen is None and dict(os.environ) == env


def test_finished_dump_is_promoted_and_mapped(home):
    cache = session._cds_dir()
    os.makedirs(cache)
    key = session._archive_key(str(home), [])
    with open(os.path.join(cache, f"{key}.123.dump"), "wb") as f:
        f.write(MAGIC + bytes(4092))
    for _ in range(2):
        flag, _why = session._archive_flag({})
        assert flag == f"-XX:SharedArchiveFile={os.path.join(cache, key)}.4096.jsa"
    assert sorted(os.listdir(cache)) == sorted(["conf", f"{key}.4096.jsa"])


@pytest.mark.parametrize("archive", [None, b"\0" * 4096, MAGIC + bytes(100)])
def test_missing_bad_or_cut_archive_is_rebuilt(home, archive):
    """No archive, one with a bad magic, and one shorter than the size its
    name records all make this launch write a new one; the archives of
    other keys and the unfinished dumps go."""
    cache = session._cds_dir()
    os.makedirs(cache)
    key = session._archive_key(str(home), [])
    if archive is not None:
        with open(os.path.join(cache, f"{key}.4096.jsa"), "wb") as f:
            f.write(archive)
    for other in ("0123456789abcdef.4096.jsa", "0123456789abcdef.7.dump", f"{key}.7.dump"):
        with open(os.path.join(cache, other), "wb") as f:
            f.write(b"\0" * 64)
    flag, _why = session._archive_flag({})
    dump = os.path.join(cache, f"{key}.{os.getpid()}.dump")
    assert flag.split()[0] == f"-XX:ArchiveClassesAtExit={dump}"
    assert os.listdir(cache) == ["conf"]


@pytest.mark.parametrize("case", ["gateway_port", "gateway", "submit_args", "xshare",
                                  "class_path_dir", "cache_unusable"])
def test_archive_off_leaves_the_launch_alone(home, monkeypatch, tmp_path, case):
    conf = {"spark.driver.extraJavaOptions": OPTS}
    if case == "gateway_port":
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "40000")
    elif case == "gateway":
        monkeypatch.setattr(SparkContext, "_gateway", object())
    elif case == "submit_args":
        monkeypatch.setenv("PYSPARK_SUBMIT_ARGS", "--driver-class-path /x pyspark-shell")
    elif case == "xshare":
        conf["spark.driver.extraJavaOptions"] += " -Xshare:off"
    elif case == "class_path_dir":
        (tmp_path / "classes" / "a").mkdir(parents=True)
        conf["spark.driver.extraClassPath"] = str(tmp_path / "classes")
    else:  # the cache cannot be made: a file stands where its parent should
        (tmp_path / "not_a_dir").write_text("")
        monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "not_a_dir"))
    want, env = dict(conf), dict(os.environ)
    got, seen = _launch(conf)
    assert got == want and seen is None and dict(os.environ) == env
    assert not os.path.exists(session._cds_dir())


@pytest.mark.skipif(shutil.which("java") is None, reason="no java on PATH")
def test_jvm_runs_with_whatever_a_damaged_archive_turns_into(home, monkeypatch, tmp_path):
    """A real archive, dumped by ``java -version``, is mapped once promoted.
    Cut short, it turns into a dump flag again: the JVM maps a cut archive
    whose header is whole and dies of SIGBUS (JDK 17.0.20), so it must never
    be handed one.  From a header cut short or corrupt the JVM itself falls
    back to starting without the archive, which the design relies on for
    foreign and corrupt archives."""
    monkeypatch.delenv("JAVA_HOME")
    java = shutil.which("java")
    cache = session._cds_dir()
    os.makedirs(cache)
    key = session._archive_key(str(home), [])

    def run(flag):
        return subprocess.run([java, *flag.split(), "-version"], cwd=tmp_path,
                              capture_output=True, timeout=60).returncode

    assert run(f"-XX:ArchiveClassesAtExit={os.path.join(cache, key)}.1.dump") == 0
    flag, _why = session._archive_flag({})
    assert flag.startswith("-XX:SharedArchiveFile=")
    assert run(flag) == 0
    archive = flag.split("=", 1)[1]
    with open(archive, "rb") as f:
        header_cut = f.read(64)
    os.chmod(archive, 0o644)
    os.truncate(archive, os.path.getsize(archive) // 2)
    flag, _why = session._archive_flag({})
    assert flag.startswith("-XX:ArchiveClassesAtExit=")
    assert run(flag) == 0
    bad = tmp_path / "bad.jsa"
    for content in (header_cut, MAGIC + bytes(8192)):
        bad.write_bytes(content)
        assert run(f"-XX:SharedArchiveFile={bad}") == 0
