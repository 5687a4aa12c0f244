"""Environment settings read at import time fall back to their defaults on
an empty or invalid value instead of raising (ROADMAP aim 3)."""

import os
import subprocess
import sys

import pytest

from indexlab_spark.session import env_int

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str, **env) -> str:
    full = {k: v for k, v in {**os.environ, "PYTHONPATH": ROOT, **env}.items() if v is not None}
    out = subprocess.run(
        [sys.executable, "-c", code], env=full, cwd=ROOT,
        capture_output=True, text=True, timeout=120,
    )
    assert out.returncode == 0, out.stderr
    return out.stdout.strip().splitlines()[-1]


@pytest.mark.parametrize("value", ["", "  ", "abc", "2.5", "0", "-3"])
def test_env_int_falls_back(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_TEST_KNOB", value)
    assert env_int("SPARK_GRAFT_TEST_KNOB", 7) == 7


def test_env_int_reads_valid_values(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_TEST_KNOB", raising=False)
    assert env_int("SPARK_GRAFT_TEST_KNOB", 7) == 7
    monkeypatch.setenv("SPARK_GRAFT_TEST_KNOB", " 12 ")
    assert env_int("SPARK_GRAFT_TEST_KNOB", 7) == 12
    monkeypatch.setenv("SPARK_GRAFT_TEST_KNOB", "0")
    assert env_int("SPARK_GRAFT_TEST_KNOB", 7, minimum=0) == 0


@pytest.mark.parametrize("value", ["", "lots"])
def test_lloyd_threads_env_does_not_break_knn_import(value):
    got = _run(
        "import os; from indexlab_spark.operators import knn;"
        " print(knn._LLOYD_POOL_WORKERS == min(8, os.cpu_count() or 1, 4))",
        SPARK_GRAFT_LLOYD_THREADS=value, SPARK_GRAFT_CPUS="4",
    )
    assert got == "True"


@pytest.mark.parametrize("value", ["", "many"])
def test_cpus_env_does_not_break_session(value):
    """Import works, the shuffle default is 32, and get_spark builds
    master local[32] rather than local[] (builder stubbed: no JVM)."""
    got = _run(
        "import indexlab_spark.session as s\n"
        "class B:\n"
        "    def __getattr__(self, name):\n"
        "        return lambda *a: self\n"
        "    def master(self, m):\n"
        "        self.m = m\n"
        "        return self\n"
        "    def getOrCreate(self):\n"
        "        return self.m\n"
        "class S:\n"
        "    builder = B()\n"
        "s.SparkSession = S\n"
        "print(s.DEFAULT_SHUFFLE_PARTITIONS, s.get_spark())\n",
        SPARK_GRAFT_CPUS=value, SPARK_MASTER=None,
    )
    assert got == "32 local[32]"
