"""Class-data archive for the driver JVM.

A cold driver JVM spends seconds loading, parsing and verifying Spark's
classes from some 300 jars before the first job runs. A dynamic AppCDS
archive holds those classes ready to map: JDK 17 records one with
``-XX:ArchiveClassesAtExit`` and maps it with ``-XX:SharedArchiveFile``
(JDK 19's ``-XX:+AutoCreateSharedArchive`` does both behind one flag;
JDK 17 lacks it). :func:`plan` chooses, per start, one of three modes:

- ``used``: an archive for this java binary and Spark jar listing
  exists, and the driver maps it;
- ``recording``: none exists, so this start records one to
  ``<key>.jsa.<pid>``. After the JVM has exited with status 0 and a
  probe JVM has mapped the file with ``-Xshare:on``, it is renamed to
  ``<key>.jsa`` (:meth:`Recording.finish`, at interpreter exit);
- ``off``: the JVM starts as it would without this module.

Archives live under ``$XDG_CACHE_HOME/etl_wikipedia_updates_spark/``
(default ``~/.cache``); deleting that dir resets them. Three properties
of JDK 17 shape the rest:

- A truncated archive crashes the JVM (SIGBUS while relocating it). So
  only a probed file ever sits at ``<key>.jsa``, and a start that fails
  with an archive deletes it and starts once more without one.
- A non-empty directory on the class path stops both recording and use,
  and the Spark conf dir is on the driver's class path. So the archive
  is made and used only while the effective conf dir holds nothing but
  ``*.template`` files, and the launch points ``SPARK_CONF_DIR`` at an
  empty dir in the cache, which reads the same (no defaults, no log4j
  file) and is the same path at every start.
- Recording logs hundreds of ``[warning][cds]`` lines (signed jars) to
  stdout, so the ``cds`` log tags are off.
"""

from __future__ import annotations

import atexit
import fcntl
import hashlib
import logging
import os
import re
import shlex
import shutil
import subprocess
from collections.abc import Mapping
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path
from types import MappingProxyType

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

LOG = logging.getLogger("etl_wikipedia_updates_spark.session")
JAVA_OPTIONS = "spark.driver.defaultJavaOptions"
QUIET = "-Xlog:cds*=off"
# recordings in progress: <key>.jsa.<pid of the recording Python process>
_TEMP = re.compile(r"\.jsa\.(\d+)$")


def cache_dir(env: Mapping[str, str]) -> Path:
    base = env.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return Path(base) / "etl_wikipedia_updates_spark"


def java_binary(env: Mapping[str, str]) -> str | None:
    """The java Spark's launcher runs (``bin/spark-class``:
    ``$JAVA_HOME/bin/java``, else ``java`` on the PATH)."""
    if env.get("JAVA_HOME"):
        return os.path.join(env["JAVA_HOME"], "bin", "java")
    return shutil.which("java", path=env.get("PATH"))


def archive_key(java: str, jars_dir: str) -> str:
    """Names the archive after what it was recorded from: the java
    binary and the Spark jar listing (path, size, mtime of each), so a
    JDK or Spark upgrade records afresh instead of mapping a stale file."""
    digest = hashlib.sha256()
    for path in [java, *sorted(os.path.join(jars_dir, n) for n in os.listdir(jars_dir))]:
        st = os.stat(path)
        digest.update(f"{os.path.realpath(path)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return digest.hexdigest()[:16]


@dataclass
class Recording:
    """A recording in progress, holding the cache's record lock."""

    java: str
    temp: Path
    archive: Path
    lock_fd: int

    def finish(self, proc, classpath: str) -> None:
        """Promote the recording once the driver JVM (``proc``) has
        exited; runs at interpreter exit. The JVM writes the archive
        while it exits, which takes seconds."""
        try:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                rc = proc.wait(timeout=600)
            except subprocess.TimeoutExpired:
                LOG.warning("driver JVM still writing %s; not promoted", self.temp)
                return
            failure = (
                f"driver JVM exited with status {rc}" if rc
                else probe(self.java, self.temp, classpath)
            )
            if failure:
                self.abandon(failure)
                return
            os.replace(self.temp, self.archive)
            LOG.info("class-data archive recorded: %s", self.archive)
            _sweep(self.archive)
        finally:
            os.close(self.lock_fd)

    def abandon(self, reason: str) -> None:
        """Drop the recording and leave a marker beside its key, so
        later starts do not record (and fail) again."""
        self.temp.unlink(missing_ok=True)
        self.archive.with_suffix(".failed").write_text(reason + "\n")
        LOG.warning("class-data archive not recorded: %s", reason)


@dataclass
class Plan:
    mode: str  # "used", "recording" or "off"
    reason: str
    options: str = ""
    conf_dir: str | None = None
    archive: Path | None = None
    recording: Recording | None = field(default=None, repr=False)


def plan(spark_home: str, env: Mapping[str, str]) -> Plan:
    """How the next driver JVM starts; creates the cache dirs and, in
    ``recording`` mode, takes the cache's record lock."""
    java = java_binary(env)
    if not java or not os.access(java, os.X_OK):
        return Plan("off", "no java binary")
    conf = env.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        held = sorted(n for n in os.listdir(conf) if not n.endswith(".template"))
    except FileNotFoundError:
        held = []
    if held:
        return Plan("off", f"conf dir {conf} holds {held[0]}")
    cache = cache_dir(env)
    empty_conf = cache / "conf"
    try:
        empty_conf.mkdir(parents=True, exist_ok=True)
    except OSError as e:
        return Plan("off", f"cache dir {cache} unwritable: {e.strerror}")
    if not os.access(cache, os.W_OK):
        return Plan("off", f"cache dir {cache} unwritable")
    jars = os.path.join(spark_home, "jars")
    if not os.path.isdir(jars):
        return Plan("off", f"no jars dir {jars}")
    archive = cache / f"{archive_key(java, jars)}.jsa"
    if archive.is_file():
        return Plan(
            "used", f"{archive} exists",
            f"-XX:SharedArchiveFile={shlex.quote(str(archive))} {QUIET}",
            str(empty_conf), archive,
        )
    marker = archive.with_suffix(".failed")
    if marker.exists():
        return Plan("off", f"recording failed before, see {marker}")
    lock_fd = os.open(cache / "record.lock", os.O_CREAT | os.O_RDWR, 0o644)
    try:
        fcntl.flock(lock_fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        os.close(lock_fd)
        return Plan("off", "another process is recording")
    temp = cache / f"{archive.name}.{os.getpid()}"
    return Plan(
        "recording", "no archive for this java binary and Spark jars",
        f"-XX:ArchiveClassesAtExit={shlex.quote(str(temp))} {QUIET}",
        str(empty_conf), archive, Recording(java, temp, archive, lock_fd),
    )


def launch(
    builder: SparkSession.Builder,
    java_options: str,
    how: Plan,
    env: Mapping[str, str] = MappingProxyType({}),
) -> SparkSession:
    """``builder.getOrCreate()`` for a start that launches the driver
    JVM, with ``how``'s options merged after the caller's
    ``spark.driver.defaultJavaOptions`` (``java_options``) and ``env``
    set in ``os.environ`` for each start only (the JVM and the
    SparkContext read it once, as they start)."""
    LOG.info("driver JVM class-data archive: %s (%s)", how.mode, how.reason)
    if how.mode == "off":
        with _scoped_env(env):
            return builder.getOrCreate()
    builder.config(JAVA_OPTIONS, f"{java_options} {how.options}".strip())
    try:
        with _scoped_env({**env, "SPARK_CONF_DIR": how.conf_dir}):
            spark = builder.getOrCreate()
    except PySparkRuntimeError as e:
        if e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        spark = None
    if spark is None:
        if how.recording:
            how.recording.abandon("driver JVM failed to start while recording")
            os.close(how.recording.lock_fd)
        else:
            how.archive.unlink(missing_ok=True)
            LOG.warning("driver JVM failed to start with %s; deleted it", how.archive)
        with _scoped_env(env):
            return builder.config(JAVA_OPTIONS, java_options).getOrCreate()
    if how.recording:
        classpath = spark.sparkContext._jvm.java.lang.System.getProperty("java.class.path")
        atexit.register(_finish_at_exit, how.recording, SparkContext._gateway.proc, classpath)
    return spark


@contextmanager
def _scoped_env(overrides: Mapping[str, str]):
    """``os.environ`` with ``overrides`` set, restored on exit."""
    saved = {k: os.environ.get(k) for k in overrides}
    os.environ.update(overrides)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def _finish_at_exit(recording: Recording, proc, classpath: str) -> None:
    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()  # else its accumulator server fails loudly as the JVM goes
    recording.finish(proc, classpath)


def probe(java: str, archive: Path, classpath: str) -> str | None:
    """None when a JVM on ``classpath`` maps ``archive`` with sharing
    required, else why not. The probe runs apart from the driver, so a
    truncated file's crash costs it, not the session."""
    try:
        out = subprocess.run(
            [java, f"-XX:SharedArchiveFile={archive}", "-Xshare:on",
             "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash",
             "-cp", classpath, "-version"],
            capture_output=True, text=True, timeout=120,
        )
    except (OSError, subprocess.TimeoutExpired) as e:
        return f"probe JVM did not run: {e}"
    if out.returncode:
        lines = (out.stdout + out.stderr).strip().splitlines()
        return f"probe JVM exited with status {out.returncode}: {lines[-1] if lines else ''}"
    return None


def _sweep(archive: Path) -> None:
    """Delete what the cache holds for other keys (each archive is some
    180 MB, and a JDK or Spark upgrade would strand it) and recordings
    whose process is gone."""
    for entry in archive.parent.iterdir():
        temp = _TEMP.search(entry.name)
        if temp:
            stale = not _alive(int(temp.group(1)))
        else:
            stale = entry.suffix in (".jsa", ".failed") and entry.stem != archive.stem
        if stale:
            entry.unlink(missing_ok=True)


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by another user
        pass
    return True
