"""The local-mode Python daemon entry (``vnavc_spark._pyworker``): its
zip importer re-reads an archive only when the archive changed, a
session built outside the repo root still runs Python UDFs through it,
and SQL UDFs and RDD-path Python share one daemon. The fake-builder
tests also pin what else ``get_spark`` asks of the session builder.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from types import SimpleNamespace
from unittest import mock

import pytest

from vnavc_spark import _pyworker, session

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_patch = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimport re-reads lazily from 3.13 on; the patch is not installed",
)


@pytest.fixture
def patched():
    cls = zipimport.zipimporter
    saved = cls.__init__, cls.invalidate_caches
    yield _pyworker.install()
    cls.__init__, cls.invalidate_caches = saved
    _pyworker._READ_AT.clear()


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in members.items():
            z.writestr(name, body)


@needs_patch
def test_unchanged_archive_keeps_its_directory(patched, tmp_path):
    assert patched
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"mod_a.py": "A = 1\n"})
    imp = zipimport.zipimporter(archive)
    files = imp._files
    imp.invalidate_caches()
    imp.invalidate_caches()
    assert imp._files is files


@needs_patch
def test_rewritten_archive_is_read_again(patched, tmp_path):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"mod_a.py": "A = 1\n"})
    imp, other = zipimport.zipimporter(archive), zipimport.zipimporter(archive)
    assert imp.find_spec("mod_b") is None
    _write_zip(archive, {"mod_a.py": "A = 1\n", "mod_b.py": "B = 2\n"})
    imp.invalidate_caches()
    assert imp.find_spec("mod_b") is not None
    # the second importer of the archive takes the directory the first
    # one has just read, as it would after reading it again itself
    other.invalidate_caches()
    assert other._files is imp._files


def test_not_installed_from_python_3_13():
    before = zipimport.zipimporter.invalidate_caches
    with mock.patch.object(sys, "version_info", (3, 13, 0, "final", 0)):
        assert _pyworker.install() is False
    assert zipimport.zipimporter.invalidate_caches is before


_TRACEBACK = "spark.executorEnv.SPARK_SIMPLIFIED_TRACEBACK"
_ICU = "spark.sql.icu.caseMappings.enabled"


class _Conf(dict):
    def set(self, key, value):
        self[key] = value


class _Builder:
    """Records what ``get_spark`` asks of ``SparkSession.builder``; it is
    also the session ``getOrCreate`` returns."""

    def __init__(self):
        self.conf, self.master_ = _Conf(), None

    def appName(self, name):
        return self

    def master(self, master):
        self.master_ = master
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return self


@pytest.mark.parametrize(
    "master, env, local",
    [
        ("local[2]", {}, True),
        ("local", {}, True),
        (None, {"SPARK_MASTER": "spark://h:7077"}, False),
        ("spark://h:7077", {}, False),
        ("yarn", {}, False),
    ],
)
def test_daemon_module_only_for_local_masters(monkeypatch, master, env, local):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_MASTER", raising=False)
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    conf = _fake_session(
        monkeypatch, master=master, extra_conf={"spark.executorEnv.PYTHONPATH": "/x"}
    )
    if local:
        assert conf["spark.python.daemon.module"] == "vnavc_spark._pyworker"
        assert conf["spark.executorEnv.PYTHONPATH"] == os.pathsep.join(["/x", _REPO_ROOT])
        assert conf[_TRACEBACK] == "1"
    else:
        assert "spark.python.daemon.module" not in conf
        assert conf["spark.executorEnv.PYTHONPATH"] == "/x"
        assert _TRACEBACK not in conf


def _fake_session(monkeypatch, language="en", **kwargs):
    """The conf ``get_spark(**kwargs)`` leaves on the session, in a JVM
    whose default locale's language is ``language``."""
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=_Builder()))
    monkeypatch.setattr(session, "_jvm_language", lambda spark: language)
    return session.get_spark(**kwargs).conf


def test_caller_traceback_env_wins(monkeypatch):
    conf = _fake_session(monkeypatch, master="local[2]", extra_conf={_TRACEBACK: "0"})
    assert conf[_TRACEBACK] == "0"


@pytest.mark.parametrize(
    "language, icu",
    [("en", "false"), ("vi", "false"), ("tr", "true"), ("az", "true"), ("lt", "true")],
)
def test_icu_case_mapping_on_only_for_tailored_locales(monkeypatch, language, icu):
    assert _fake_session(monkeypatch, language=language, master="local[2]")[_ICU] == icu


def test_caller_icu_setting_wins_over_locale(monkeypatch):
    conf = _fake_session(
        monkeypatch, language="tr", master="local[2]", extra_conf={_ICU: "false"}
    )
    assert conf[_ICU] == "false"


def test_session_outside_repo_root_runs_udfs(tmp_path):
    # a process whose cwd is not the repo root and whose environment does
    # not name the repo: the daemon entry must still import, and a
    # by-value lambda UDF must still run, in a worker that uses the
    # patched importer
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {_REPO_ROOT!r})
        from pyspark.sql import functions as F
        from vnavc_spark.session import get_spark

        spark = get_spark(
            master="local[2]",
            shuffle_partitions=2,
            extra_conf={{"spark.ui.enabled": "false"}},
        )
        spark.sparkContext.setLogLevel("ERROR")

        def _patched_by(_):
            import zipimport
            return zipimport.zipimporter.invalidate_caches.__module__

        row = spark.range(3).select(
            F.udf(lambda x: x * 10, "long")("id").alias("x"),
            F.udf(_patched_by, "string")("id").alias("who"),
        ).orderBy("x").collect()
        print("XS", [r.x for r in row])
        print("WHO", sorted({{r.who for r in row}}))
        spark.stop()
        """
    )
    lines = _run_driver(script, tmp_path)
    assert lines["XS"] == "[0, 10, 20]"
    want = "zipimport" if sys.version_info >= (3, 13) else "vnavc_spark._pyworker"
    assert lines["WHO"] == repr([want])


def test_udf_and_rdd_python_share_one_daemon(tmp_path):
    # Spark keys Python worker pools by their environment: unless RDD-path
    # Python carries the SQL UDF runners' SPARK_SIMPLIFIED_TRACEBACK, its
    # first task (createDataFrame from local rows is one) starts a second
    # daemon. Workers are forked by the daemon, so their parent is it.
    script = textwrap.dedent(
        f"""
        import os
        import sys
        sys.path.insert(0, {_REPO_ROOT!r})
        import pandas as pd
        from pyspark.sql import functions as F
        from vnavc_spark.session import get_spark

        spark = get_spark(
            master="local[2]",
            shuffle_partitions=2,
            extra_conf={{"spark.ui.enabled": "false"}},
        )
        spark.sparkContext.setLogLevel("ERROR")

        @F.pandas_udf("long")
        def daemon_pid(s: pd.Series) -> pd.Series:
            return s.map(lambda _: os.getppid())

        udf = spark.range(4).repartition(2).select(daemon_pid("id")).collect()
        rdd = spark.sparkContext.parallelize(range(4), 2).map(
            lambda _: os.getppid()
        ).collect()
        print("UDF", sorted({{r[0] for r in udf}}))
        print("RDD", sorted(set(rdd)))
        spark.stop()
        """
    )
    lines = _run_driver(script, tmp_path)
    udf, rdd = ast.literal_eval(lines["UDF"]), ast.literal_eval(lines["RDD"])
    assert len(udf) == 1 and udf == rdd, lines


def _run_driver(script: str, cwd) -> dict[str, str]:
    """Run ``script`` in a fresh Python process in ``cwd``, with no
    ``PYTHONPATH`` naming the repo; its ``KEY value`` output lines."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return dict(line.split(" ", 1) for line in proc.stdout.splitlines() if " " in line)
