"""Every ``doctor_spark`` module imports without a SparkContext: a UDF
built at import time needs an active session, so importing its module
fails on a fresh driver and, when a kernel is pickled by reference, on
the Python worker too."""

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

_PROBE = """
import importlib, json, pkgutil
import doctor_spark
from pyspark import SparkContext

names = ["doctor_spark"] + [
    m.name for m in pkgutil.walk_packages(doctor_spark.__path__, "doctor_spark.")
]
failed = {}
for name in names:
    try:
        importlib.import_module(name)
    except Exception as e:  # report every module, not just the first
        failed[name] = f"{type(e).__name__}: {e}"[:300]
print(json.dumps({
    "n": len(names), "failed": failed,
    "context": SparkContext._active_spark_context is not None,
}))
"""


def test_every_module_imports_without_a_spark_context():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    )
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["n"] > 100, got
    assert not got["context"], "an import started a SparkContext"
    assert got["failed"] == {}, got["failed"]
