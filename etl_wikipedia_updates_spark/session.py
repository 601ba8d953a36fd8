"""SparkSession factory.

Determinism knobs come first (they gate duckdb-oracle hash matching):
UTC session timezone, ANSI off (we want permissive casts like the
reference's lenient ingest), Arrow on for the Pandas-UDF surface.

Performance knobs are sized for the host (``local[N]``, N the CPUs this
process may run on) but chosen so the same code scales: AQE handles
runtime re-planning (partition coalescing, skew joins) on a real
cluster exactly as it does locally; ``spark.sql.shuffle.partitions`` is
only the *initial* shuffle parallelism — with AQE coalescing enabled
the effective partition count adapts to data volume, so a 1000-executor
deployment overrides one conf value rather than any code.

A start that launches the driver JVM maps a class-data archive of
Spark's classes, or records one on the first start for this JDK and
Spark install (``jvm_archive``): the cold JVM is most of a start's
time, and a restarted ingest pays it before its first event lands.

The Python processes a local session starts (data-source, UDF and
streaming-source workers) run the driver's own interpreter through a
launcher in the same cache dir (:func:`worker_python`). Spark puts
``$SPARK_HOME/python/lib/pyspark.zip`` and the py4j source zip first on
their ``PYTHONPATH``; those zips hold no compiled modules, so every
worker would recompile PySpark on import (about 1 s each, against about
0.4 s from the driver's compiled install). The launcher drops the two
zips and ``exec``s the driver's interpreter. It is used only when the
master is local, the driver imported ``pyspark`` and ``py4j`` from
directories with a ``pyspark`` matching the Spark jars, and
``PYSPARK_PYTHON`` is unset or names the driver's interpreter; otherwise
the workers start as configured. The decision is logged at INFO.

Case mapping (``lower``, ``upper``, ``initcap``) runs through the JDK,
not ICU (``spark.sql.icu.caseMappings.enabled=false``): Spark's ICU
path builds a title-case table over every code point on its first use
in a JVM, about 3 s of one thread under a class-init lock that every
other lowercasing task waits on. The JDK maps non-ASCII case in the
JVM's default locale, so the conf is set only when the driver JVM's
default language has no special casing (not ``tr``, ``az`` or ``lt``)
and ``extra_conf`` does not name it; otherwise ICU stays on. PARITY.md
lists where the JDK's tables and ICU's part.

Call-site capture for DataFrame errors
(``spark.python.sql.dataFrameDebugging.enabled``) is off: it adds
py4j round trips to every Column call.
"""

from __future__ import annotations

import hashlib
import logging
import os
import re
import shlex
import shutil
import subprocess
import sys
import warnings
from collections.abc import Mapping

import py4j
import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from etl_wikipedia_updates_spark import jvm_archive
from etl_wikipedia_updates_spark.tables import REQUIRED_CONF

LOG = logging.getLogger(__name__)
# case mapping through the JDK, not ICU (see the module docstring)
ICU_CASE_MAPPINGS = "spark.sql.icu.caseMappings.enabled"
# languages whose JDK case mapping differs from the root locale's
_SPECIAL_CASING = frozenset({"tr", "az", "lt"})


def driver_memory(phys_bytes: int | None) -> str:
    """Default driver heap: half of the host's ``phys_bytes`` (None:
    unknown), capped at 16g. Past the host's memory a heavy query is
    killed by the kernel with no message; at half, it fails with a Java
    OutOfMemoryError and the Python workers and the OS keep room."""
    cap_mb = 16 * 1024
    return f"{min(phys_bytes // 2 >> 20, cap_mb) if phys_bytes else cap_mb}m"


def _phys_bytes() -> int | None:
    try:
        return os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (ValueError, OSError, AttributeError):
        return None


def _int_env(name: str, default: int) -> int:
    """Positive integer env knob with a loud, named failure mode: a
    malformed or below-1 value warns (naming the variable and the bad
    value) and falls back to ``default`` rather than killing session
    construction with an opaque int() traceback."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        value = int(raw)
    except ValueError:
        value = 0
    if value < 1:
        warnings.warn(
            f"{name}={raw!r} is not a positive integer; falling back to "
            f"{default}",
            stacklevel=3,
        )
        return default
    return value


def local_cpus() -> int:
    """Task slots for ``local[N]``: ``SPARK_GRAFT_CPUS`` when set, else
    the CPUs this process may run on (its affinity mask, so a container
    limited to a cpuset counts its share, not the machine's)."""
    return _int_env("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0)))


_LOCAL_MASTER = re.compile(r"local(\[[^\]]*\])?")
_SPARK_CORE_JAR = re.compile(r"spark-core_[\d.]+-(.+)\.jar")
# Spark prepends $SPARK_HOME/python/lib/{pyspark.zip,py4j-*-src.zip} to
# every Python worker's PYTHONPATH; the launcher drops exactly those two
_LAUNCHER = """\
#!/bin/sh
# Runs a Python worker of an etl_wikipedia_updates_spark session with the
# driver's interpreter and its compiled pyspark/py4j, not the
# source-only zips Spark puts first on PYTHONPATH.
set -f
kept=
IFS=:
for entry in $PYTHONPATH; do
  case $entry in
    "$SPARK_HOME/python/lib/pyspark.zip"|"$SPARK_HOME"/python/lib/py4j-*-src.zip) ;;
    *) kept=${{kept:+$kept:}}$entry ;;
  esac
done
unset IFS
if [ -n "$kept" ]; then export PYTHONPATH="$kept"; else unset PYTHONPATH; fi
exec {python} "$@"
"""


def _same_interpreter(a: str, b: str) -> bool:
    """Same binary in the same directory: a venv's ``python`` links to
    its base interpreter but reads its own ``pyvenv.cfg``, so the
    directory matters as much as the file."""
    return (
        os.path.dirname(os.path.abspath(a)) == os.path.dirname(os.path.abspath(b))
        and os.path.realpath(a) == os.path.realpath(b)
    )


def _foreign_python(env: Mapping[str, str]) -> str | None:
    """Why ``PYSPARK_PYTHON`` in ``env`` would not run this interpreter,
    or None when it is unset or does. A name that resolves elsewhere (a shim,
    such as pyenv's) is asked for its ``sys.executable``."""
    configured = env.get("PYSPARK_PYTHON")
    if configured is None:
        return None
    found = shutil.which(configured, path=env.get("PATH"))
    if found is None:
        return f"PYSPARK_PYTHON={configured} is not on the PATH"
    if _same_interpreter(found, sys.executable):
        return None
    try:
        out = subprocess.run(
            [found, "-c", "import sys; print(sys.executable)"],
            env=dict(env), capture_output=True, text=True, timeout=60,
        )
    except (OSError, subprocess.TimeoutExpired) as e:
        return f"PYSPARK_PYTHON={configured} did not run: {e}"
    runs = out.stdout.strip()
    if out.returncode or not runs or not _same_interpreter(runs, sys.executable):
        return f"PYSPARK_PYTHON={configured} runs {runs or '?'}, not {sys.executable}"
    return None


def worker_python(master: str, spark_home: str, env: Mapping[str, str]) -> tuple[str | None, str]:
    """The ``PYSPARK_PYTHON`` a session's Python workers should start
    with (None: leave it as ``env`` has it), and why. A launcher that
    runs the driver's interpreter without Spark's source-only zips is
    written to the cache dir when every condition holds: the master is
    local, the driver imported ``pyspark`` and ``py4j`` from directories
    and its ``pyspark`` matches the Spark jars, and ``PYSPARK_PYTHON``
    runs the driver's interpreter."""
    if not _LOCAL_MASTER.fullmatch(master):
        return None, f"master {master} is not local"
    for module in (pyspark, py4j):
        where = os.path.dirname(module.__file__)
        if not os.path.isdir(where):
            return None, f"driver imports {module.__name__} from {where}"
    jars = os.path.join(spark_home, "jars")
    try:
        versions = sorted(
            m.group(1) for name in os.listdir(jars)
            if (m := _SPARK_CORE_JAR.fullmatch(name))
        )
    except OSError:
        versions = []
    if versions != [pyspark.__version__]:
        return None, f"pyspark {pyspark.__version__}, Spark jars {versions or 'unknown'}"
    other = _foreign_python(env)
    if other:
        return None, other
    text = _LAUNCHER.format(python=shlex.quote(sys.executable))
    launcher = jvm_archive.cache_dir(env) / (
        f"python-{hashlib.sha256(text.encode()).hexdigest()[:16]}.sh"
    )
    if not launcher.is_file():
        try:
            launcher.parent.mkdir(parents=True, exist_ok=True)
            temp = launcher.with_name(f"{launcher.name}.{os.getpid()}")
            temp.write_text(text)
            temp.chmod(0o755)
            os.replace(temp, launcher)
        except OSError as e:
            return None, f"cache dir {launcher.parent} unwritable: {e.strerror}"
    return str(launcher), f"runs {sys.executable} without Spark's pyspark/py4j zips"


def _launch(builder: SparkSession.Builder, master: str, java_options: str) -> SparkSession:
    """``builder.getOrCreate()`` for a start that launches the driver
    JVM: with the class-data archive's plan, and with the worker
    launcher as ``PYSPARK_PYTHON`` for the start only when
    :func:`worker_python` chooses it."""
    spark_home = _find_spark_home()
    launcher, why = worker_python(master, spark_home, os.environ)
    LOG.info("python workers: %s (%s)", launcher or "as configured", why)
    return jvm_archive.launch(
        builder, java_options, jvm_archive.plan(spark_home, os.environ),
        {"PYSPARK_PYTHON": launcher} if launcher else {},
    )


def get_spark(
    app_name: str = "etl_wikipedia_updates_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Parameters are overridable for tests/bench; defaults fit local[N].
    A ``spark.driver.defaultJavaOptions`` in ``extra_conf`` is kept, with
    the class-data archive's options after it.
    """
    cpus = local_cpus()
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- determinism (oracle hash-matching): UTC, ANSI off, parquet
        # rebase and nanos-as-long reads; one dict shared with the
        # foreign-session guard in tables ---
        .config(map=REQUIRED_CONF)
        # --- adaptive execution: the main scale lever (runtime
        # re-planning, skew-join splitting) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- shuffle sizing: initial parallelism ~= cores locally; AQE
        # coalesces small partitions, so this is safe at every SF ---
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cpus),
        )
        # --- Python <-> JVM transfer is Arrow-batched, never pickled rows ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches (default 10k): the numeric pandas_udf
        # surfaces (q28, grouped_agg_udf) pay per-batch Python
        # round-trip overhead, and 6x fewer boundaries measured ~15%
        # faster on q28 at sf0.1 (min-of-3, same session). Memory per
        # in-flight batch stays a few MB for numeric columns; a
        # deployment with very wide string rows would size this down.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # dim tables (region/nation/supplier/...) should always broadcast;
        # 64MB covers every dim at sf0.1 while staying executor-safe
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Only effective when this call creates the JVM; a pre-existing
        # session (e.g. pytest reuse) keeps its original heap. On a real
        # cluster this is submit-time conf (spark-submit --driver-memory).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_memory(_phys_bytes()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # per-Column call-site capture for error messages: several py4j
        # round trips per Column call (F.col("a") + 1: 2.3-2.9 ms on,
        # 0.5 ms off), which Spark documents as costly
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    conf = extra_conf or {}
    for k, v in conf.items():
        builder = builder.config(k, v)
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        spark = _launch(
            builder,
            conf.get("spark.master", master),
            conf.get(jvm_archive.JAVA_OPTIONS, ""),
        )
    else:  # the driver JVM is running already
        spark = builder.getOrCreate()
    locale = spark.sparkContext._jvm.java.util.Locale
    if (
        ICU_CASE_MAPPINGS not in conf
        and locale.getDefault().getLanguage() not in _SPECIAL_CASING
    ):
        spark.conf.set(ICU_CASE_MAPPINGS, "false")
    spark.sparkContext.setLogLevel("WARN")
    return spark
