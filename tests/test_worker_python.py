"""Python workers of a local session run the driver's interpreter and its
compiled pyspark (session.worker_python): the decision and the launcher
run with no session, one case per condition; the launch scopes
``PYSPARK_PYTHON`` with a recording builder; one in-session UDF reports
where its worker imported pyspark from."""

from __future__ import annotations

import logging
import os
import subprocess
import sys
from pathlib import Path

import py4j
import pyspark
import pytest
from pyspark.find_spark_home import _find_spark_home

from etl_wikipedia_updates_spark import session


def _spark_home(tmp_path: Path, version: str = pyspark.__version__) -> Path:
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    for name in (f"spark-core_2.13-{version}.jar", "spark-sql_2.13-0.0.jar"):
        (home / "jars" / name).write_bytes(b"jar")
    return home


def _env(tmp_path: Path, **extra: str) -> dict[str, str]:
    return {
        "PATH": os.environ["PATH"],
        "XDG_CACHE_HOME": str(tmp_path / "cache"),
        **extra,
    }


def _script(tmp_path: Path, name: str, body: str) -> str:
    path = tmp_path / name
    path.write_text(f"#!/bin/sh\n{body}\n")
    path.chmod(0o755)
    return str(path)


def _run(launcher: str, home: Path, pythonpath: str) -> tuple[str, str]:
    out = subprocess.run(
        [launcher, "-c",
         "import os, sys; print(sys.executable); print(os.environ.get('PYTHONPATH'))"],
        env={"SPARK_HOME": str(home), "PYTHONPATH": pythonpath},
        capture_output=True, text=True, check=True,
    )
    executable, path = out.stdout.splitlines()
    return executable, path


def test_launcher_drops_sparks_zips_and_runs_the_drivers_interpreter(tmp_path):
    home = _spark_home(tmp_path)
    env = _env(tmp_path)
    launcher, why = session.worker_python("local[4]", str(home), env)
    assert launcher, why
    assert Path(launcher).parent == tmp_path / "cache" / "etl_wikipedia_updates_spark"
    assert os.access(launcher, os.X_OK)
    assert session.worker_python("local", str(home), env)[0] == launcher

    lib = home / "python" / "lib"
    zips = f"{lib}/pyspark.zip:{lib}/py4j-0.10.9.9-src.zip"
    assert _run(launcher, home, f"{zips}:/kept/a.jar:/kept/dir") == (
        sys.executable, "/kept/a.jar:/kept/dir",
    )
    # only the two zips under $SPARK_HOME are dropped; none left: unset
    other = f"/elsewhere/python/lib/pyspark.zip:{lib}/py4j-src.zip"
    assert _run(launcher, home, f"{zips}:{other}")[1] == other
    assert _run(launcher, home, zips)[1] == "None"


def test_pyspark_python_naming_the_drivers_interpreter_keeps_the_launcher(tmp_path):
    home = _spark_home(tmp_path)
    direct = session.worker_python(
        "local[2]", str(home), _env(tmp_path, PYSPARK_PYTHON=sys.executable)
    )
    assert direct[0], direct[1]
    # a shim (pyenv's, say) is asked which interpreter it runs
    shim = _script(tmp_path, "python-shim", f'exec {sys.executable} "$@"')
    shimmed = session.worker_python("local[2]", str(home), _env(tmp_path, PYSPARK_PYTHON=shim))
    assert shimmed == direct


def test_worker_python_is_off_for_a_master_that_is_not_local(tmp_path):
    home = _spark_home(tmp_path)
    for master in ("spark://host:7077", "local-cluster[2,1,1024]", "yarn"):
        launcher, why = session.worker_python(master, str(home), _env(tmp_path))
        assert launcher is None and why == f"master {master} is not local"


@pytest.mark.parametrize("module", [pyspark, py4j], ids=["pyspark", "py4j"])
def test_worker_python_is_off_when_the_driver_imports_from_a_zip(tmp_path, monkeypatch, module):
    home = _spark_home(tmp_path)
    zipped = f"/spark-home/python/lib/{module.__name__}.zip/{module.__name__}/__init__.py"
    monkeypatch.setattr(module, "__file__", zipped)
    launcher, why = session.worker_python("local[2]", str(home), _env(tmp_path))
    assert launcher is None and why == f"driver imports {module.__name__} from {os.path.dirname(zipped)}"


def test_worker_python_is_off_when_pyspark_does_not_match_the_jars(tmp_path):
    home = _spark_home(tmp_path, version="3.5.0")
    launcher, why = session.worker_python("local[2]", str(home), _env(tmp_path))
    assert launcher is None and why == f"pyspark {pyspark.__version__}, Spark jars ['3.5.0']"
    launcher, why = session.worker_python("local[2]", str(tmp_path / "none"), _env(tmp_path))
    assert launcher is None and why.endswith("Spark jars unknown")


def test_worker_python_is_off_when_pyspark_python_is_another_interpreter(tmp_path):
    home = _spark_home(tmp_path)
    other = _script(tmp_path, "other-python", "echo /usr/local/bin/other-python")
    launcher, why = session.worker_python("local[2]", str(home), _env(tmp_path, PYSPARK_PYTHON=other))
    assert launcher is None
    assert why == f"PYSPARK_PYTHON={other} runs /usr/local/bin/other-python, not {sys.executable}"
    missing = _env(tmp_path, PYSPARK_PYTHON="no-such-python")
    assert session.worker_python("local[2]", str(home), missing) == (
        None, "PYSPARK_PYTHON=no-such-python is not on the PATH",
    )
    assert not (tmp_path / "cache").exists()


def test_worker_python_is_off_when_the_cache_is_unwritable(tmp_path):
    home = _spark_home(tmp_path)
    not_a_dir = tmp_path / "file"
    not_a_dir.write_text("")
    launcher, why = session.worker_python(
        "local[2]", str(home), _env(tmp_path, XDG_CACHE_HOME=str(not_a_dir))
    )
    assert launcher is None and "unwritable" in why


class _Builder:
    """Records the environment each start sees."""

    def __init__(self):
        self.seen: list[dict[str, str]] = []

    def config(self, key, value):
        return self

    def getOrCreate(self):
        self.seen.append(dict(os.environ))
        return "session"


def _launch_env(tmp_path: Path, monkeypatch, **extra: str) -> dict[str, str]:
    """An environment in which the class-data archive is off (a real
    file in the conf dir), so a start is exactly ``getOrCreate()``."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("")
    for key, value in _env(
        tmp_path, SPARK_HOME=str(_spark_home(tmp_path)), SPARK_CONF_DIR=str(conf), **extra
    ).items():
        monkeypatch.setenv(key, value)
    return dict(os.environ)


@pytest.mark.parametrize("condition", ["master", "zip", "interpreter"])
def test_a_failed_condition_leaves_the_environment_as_it_was(
    tmp_path, monkeypatch, caplog, condition
):
    master = "spark://host:7077" if condition == "master" else "local[2]"
    if condition == "zip":
        monkeypatch.setattr(pyspark, "__file__", "/x/pyspark.zip/pyspark/__init__.py")
    other = _script(tmp_path, "other-python", "echo /usr/local/bin/other-python")
    extra = {"PYSPARK_PYTHON": other} if condition == "interpreter" else {}
    before = _launch_env(tmp_path, monkeypatch, **extra)
    if condition != "interpreter":
        monkeypatch.delenv("PYSPARK_PYTHON", raising=False)
        before.pop("PYSPARK_PYTHON", None)
    builder = _Builder()
    with caplog.at_level(logging.INFO, logger="etl_wikipedia_updates_spark.session"):
        assert session._launch(builder, master, "") == "session"
    assert builder.seen == [before] and dict(os.environ) == before
    assert "python workers: as configured (" in caplog.text
    assert "class-data archive: off" in caplog.text


def test_launch_scopes_pyspark_python_to_the_start(tmp_path, monkeypatch, caplog):
    before = _launch_env(tmp_path, monkeypatch, PYSPARK_PYTHON=sys.executable)
    builder = _Builder()
    with caplog.at_level(logging.INFO, logger="etl_wikipedia_updates_spark.session"):
        session._launch(builder, "local[2]", "")
    launcher, _ = session.worker_python("local[2]", before["SPARK_HOME"], before)
    assert builder.seen == [{**before, "PYSPARK_PYTHON": launcher}]
    assert dict(os.environ) == before
    assert f"python workers: {launcher} (runs {sys.executable}" in caplog.text


def test_session_workers_import_the_drivers_compiled_pyspark(spark):
    """The test session meets every condition, so a UDF's worker
    imports the driver's pyspark, not $SPARK_HOME's source-only zip."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    launcher, why = session.worker_python(
        spark.sparkContext.master, _find_spark_home(), os.environ
    )
    assert launcher, why
    assert spark.sparkContext.pythonExec == launcher

    def where(_):
        import sys

        import pyspark

        return f"{pyspark.__file__}|{sys.executable}"

    got = spark.range(1).select(F.udf(where, T.StringType())("id")).first()[0]
    assert ".zip" not in got
    assert got == f"{pyspark.__file__}|{sys.executable}"
