"""Session construction: what every query inherits from build_session."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, sys.argv[1])
from bigdata_capstone_spark.catalog import QUERIES
from bigdata_capstone_spark.session import build_session
spark = build_session(app_name="python_worker_path")
print("ROWS", QUERIES["multimodal_jpeg_features"](spark, sys.argv[2]).count())
spark.stop()
"""


def test_python_workers_import_the_package_from_any_cwd(tmp_path, sf_small):
    """A mapInPandas query runs when the driver's working directory is
    not the repo root and PYTHONPATH is unset: the driver finds the
    package through sys.path, which its Python workers do not inherit,
    so they rely on the executors' PYTHONPATH that build_session sets."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    # a second JVM next to the suite's own: keep it small
    env.update(SPARK_DRIVER_MEM="1g", SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, REPO, sf_small],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    rows = [ln for ln in proc.stdout.splitlines() if ln.startswith("ROWS ")]
    assert rows and int(rows[0].split()[1]) > 0, proc.stdout[-2000:]


def test_default_driver_memory_is_half_the_host():
    """The default driver heap is half of MemTotal in whole GiB, with a
    1g floor, so a session never asks for more heap than its host has.
    Computed from meminfo text: no session is started."""
    from bigdata_capstone_spark.session import default_driver_memory

    meminfo = "MemTotal:       16303780 kB\nMemFree:         1024 kB\n"
    assert default_driver_memory(meminfo) == "7g"
    assert default_driver_memory("MemTotal: 134217728 kB\n") == "64g"
    assert default_driver_memory("MemTotal: 1048576 kB\n") == "1g"
    assert default_driver_memory("MemTotal: 524288 kB\n") == "1g"
