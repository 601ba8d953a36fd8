"""The driver JVM's class-data archive (jvm_archive): the start-mode
decision and the options merge run with no JVM; the promotion probe
runs ``java -version``; one subprocess starts Spark over a truncated
archive."""

from __future__ import annotations

import logging
import os
import subprocess
import sys
from pathlib import Path

from pyspark.errors import PySparkRuntimeError

from etl_wikipedia_updates_spark import jvm_archive as ja

REPO = Path(__file__).resolve().parents[1]


def _spark_home(tmp_path: Path, *conf_files: str) -> Path:
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    (home / "conf").mkdir()
    for name in ("spark-defaults.conf.template", *conf_files):
        (home / "conf" / name).write_text("")
    return home


def _env(tmp_path: Path, **extra: str) -> dict[str, str]:
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True, exist_ok=True)
    java = jdk / "bin" / "java"
    if not java.exists():
        java.write_text("#!/bin/sh\n")
        java.chmod(0o755)
    return {"JAVA_HOME": str(jdk), "XDG_CACHE_HOME": str(tmp_path / "cache"), **extra}


def test_archive_key_follows_the_java_binary_and_the_jar_listing(tmp_path):
    home = _spark_home(tmp_path)
    java = ja.java_binary(_env(tmp_path))
    jars = str(home / "jars")
    key = ja.archive_key(java, jars)
    assert ja.archive_key(java, jars) == key
    (home / "jars" / "extra.jar").write_bytes(b"jar")
    with_jar = ja.archive_key(java, jars)
    assert with_jar != key
    other_java = tmp_path / "other-java"
    other_java.write_text("#!/bin/sh\n")
    assert ja.archive_key(str(other_java), jars) != with_jar


def test_plan_records_then_uses_and_one_process_records_at_a_time(tmp_path):
    home, env = _spark_home(tmp_path), _env(tmp_path)
    cache = ja.cache_dir(env)
    assert cache == tmp_path / "cache" / "etl_wikipedia_updates_spark"
    rec = ja.plan(str(home), env)
    assert rec.mode == "recording", rec.reason
    temp = rec.recording.temp
    assert temp.parent == cache and temp.name == f"{rec.archive.name}.{os.getpid()}"
    assert rec.options == f"-XX:ArchiveClassesAtExit={temp} {ja.QUIET}"
    assert rec.conf_dir == str(cache / "conf") and not os.listdir(rec.conf_dir)
    busy = ja.plan(str(home), env)
    assert (busy.mode, busy.reason) == ("off", "another process is recording")
    os.close(rec.recording.lock_fd)

    rec.archive.write_bytes(b"archive")
    used = ja.plan(str(home), env)
    assert used.mode == "used" and used.archive == rec.archive
    assert used.options == f"-XX:SharedArchiveFile={rec.archive} {ja.QUIET}"
    assert used.conf_dir == rec.conf_dir


def test_plan_is_off_when_the_conf_dir_holds_a_real_file(tmp_path):
    home = _spark_home(tmp_path, "spark-defaults.conf")
    p = ja.plan(str(home), _env(tmp_path))
    assert p.mode == "off" and "spark-defaults.conf" in p.reason and not p.options
    # an explicit SPARK_CONF_DIR is the effective one
    only_templates = tmp_path / "conf2"
    only_templates.mkdir()
    (only_templates / "log4j2.properties.template").write_text("")
    p = ja.plan(str(home), _env(tmp_path, SPARK_CONF_DIR=str(only_templates)))
    assert p.mode == "recording", p.reason
    os.close(p.recording.lock_fd)


def test_plan_is_off_when_the_cache_is_unwritable(tmp_path):
    home = _spark_home(tmp_path)
    not_a_dir = tmp_path / "file"
    not_a_dir.write_text("")
    p = ja.plan(str(home), _env(tmp_path, XDG_CACHE_HOME=str(not_a_dir)))
    assert p.mode == "off" and "unwritable" in p.reason and not p.options


class _Builder:
    """Records the conf and the environment each start would see."""

    def __init__(self, failures: int = 0):
        self.options: dict[str, str] = {}
        self.starts: list[tuple[str | None, str | None]] = []
        self.failures = failures

    def config(self, key, value):
        self.options[key] = value
        return self

    def getOrCreate(self):
        self.starts.append(
            (self.options.get(ja.JAVA_OPTIONS), os.environ.get("SPARK_CONF_DIR"))
        )
        if len(self.starts) <= self.failures:
            raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})
        return "session"


def test_launch_merges_the_callers_java_options(tmp_path, monkeypatch, caplog):
    home, env = _spark_home(tmp_path), _env(tmp_path)
    own_conf = str(home / "conf")
    monkeypatch.setenv("SPARK_CONF_DIR", own_conf)
    first = ja.plan(str(home), env)
    os.close(first.recording.lock_fd)
    archive = first.archive
    archive.write_bytes(b"archive")
    used = ja.plan(str(home), env)
    builder = _Builder()
    with caplog.at_level(logging.INFO, logger="etl_wikipedia_updates_spark.session"):
        assert ja.launch(builder, "-XX:TieredStopAtLevel=1", used) == "session"
    assert builder.starts == [(f"-XX:TieredStopAtLevel=1 {used.options}", used.conf_dir)]
    assert os.environ["SPARK_CONF_DIR"] == own_conf
    assert "class-data archive: used" in caplog.text

    off = ja.plan(str(home), _env(tmp_path, XDG_CACHE_HOME=str(archive)))
    builder = _Builder()
    ja.launch(builder, "", off)
    assert builder.starts == [(None, own_conf)]


def test_launch_starts_without_an_archive_that_kills_the_jvm(tmp_path, monkeypatch):
    home, env = _spark_home(tmp_path), _env(tmp_path)
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    rec = ja.plan(str(home), env)
    builder = _Builder(failures=1)
    assert ja.launch(builder, "-Xss4m", rec) == "session"
    assert builder.starts == [
        (f"-Xss4m {rec.options}", rec.conf_dir), ("-Xss4m", None),
    ]
    assert "SPARK_CONF_DIR" not in os.environ
    assert ja.plan(str(home), env).mode == "off"  # the marker holds

    rec.archive.with_suffix(".failed").unlink()
    rec.archive.write_bytes(b"truncated")
    used = ja.plan(str(home), env)
    builder = _Builder(failures=1)
    ja.launch(builder, "", used)
    assert builder.starts[1] == ("", None)
    assert not rec.archive.exists()


class _ExitedJVM:
    stdin = None

    def __init__(self, rc: int):
        self.rc = rc

    def wait(self, timeout=None):
        return self.rc


def _small_archive(tmp_path: Path, java: str) -> tuple[Path, str]:
    """A valid dynamic archive of ``java -version`` and its class path."""
    classpath = tmp_path / "cp"
    classpath.mkdir()
    path = tmp_path / "small.jsa"
    subprocess.run(
        [java, f"-XX:ArchiveClassesAtExit={path}", ja.QUIET, "-cp", str(classpath),
         "-version"],
        check=True, capture_output=True,
    )
    return path, str(classpath)


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_promotion_needs_a_clean_exit_and_a_probe(tmp_path):
    java = ja.java_binary(os.environ)
    small, classpath = _small_archive(tmp_path, java)
    cache = tmp_path / "cache"
    cache.mkdir()
    archive = cache / "0123456789abcdef.jsa"

    def recording() -> ja.Recording:
        lock_fd = os.open(cache / "record.lock", os.O_CREAT | os.O_RDWR)
        return ja.Recording(java, cache / f"{archive.name}.{os.getpid()}", archive, lock_fd)

    truncated = recording()
    truncated.temp.write_bytes(small.read_bytes()[: small.stat().st_size // 2])
    truncated.finish(_ExitedJVM(0), classpath)
    assert not archive.exists() and not truncated.temp.exists()
    assert "probe JVM exited with status" in archive.with_suffix(".failed").read_text()

    archive.with_suffix(".failed").unlink()
    crashed = recording()
    crashed.temp.write_bytes(small.read_bytes())
    crashed.finish(_ExitedJVM(134), classpath)
    assert not archive.exists() and archive.with_suffix(".failed").exists()

    archive.with_suffix(".failed").unlink()
    stale = [cache / "fedcba9876543210.jsa", cache / "fedcba9876543210.failed",
             cache / f"{archive.name}.{_dead_pid()}"]
    live = cache / f"{archive.name}.{os.getppid()}"
    for path in (*stale, live):
        path.write_bytes(b"x")
    good = recording()
    good.temp.write_bytes(small.read_bytes())
    good.finish(_ExitedJVM(0), classpath)
    assert archive.read_bytes() == small.read_bytes()
    assert not any(p.exists() for p in stale) and live.exists()
    assert sorted(p.name for p in cache.iterdir()) == sorted(
        [archive.name, live.name, "record.lock"]
    )


def test_session_starts_over_a_truncated_archive(tmp_path):
    """A truncated archive at the name a start maps kills the JVM
    (SIGBUS); the session still starts, and the file is gone."""
    env = {
        **os.environ,
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
        "PYTHONPATH": os.pathsep.join(filter(None, [str(REPO), os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        "SPARK_GRAFT_CPUS": "2",
    }
    env.pop("SPARK_CONF_DIR", None)
    java = ja.java_binary(env)
    small, _ = _small_archive(tmp_path, java)
    from pyspark.find_spark_home import _find_spark_home

    cache = ja.cache_dir(env)
    cache.mkdir(parents=True)
    archive = cache / f"{ja.archive_key(java, os.path.join(_find_spark_home(), 'jars'))}.jsa"
    archive.write_bytes(small.read_bytes()[: small.stat().st_size // 2])
    out = subprocess.run(
        [sys.executable, "-c",
         "from etl_wikipedia_updates_spark.session import get_spark\n"
         "assert get_spark().range(1).count() == 1"],
        env=env, cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
    assert "SIGBUS" in out.stdout + out.stderr  # the first start did map it
    assert not archive.exists()
    assert not [p.name for p in cache.iterdir() if ".jsa" in p.name]
