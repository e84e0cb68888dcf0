"""Query profiles: the build-time plan capture and the ``profile``
subcommand. The profile's job and stage counts are pinned through the
guards that read them (test_sketches, test_ranking_metrics,
test_nearest_anchor)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from bigdata_capstone_spark.observability import captured_checkpoints
from bigdata_capstone_spark.operators import ckpt

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_captured_checkpoints_label_both_truncate_paths(spark, request):
    """ckpt.truncate and ckpt.materialize are captured on their local
    and their reliable paths, materialize's lazy checkpoints are
    labelled lazy, each entry holds the plan of the checkpointed
    subtree, and the patch is undone on exit."""
    df = spark.range(10).filter("id > 2")
    with captured_checkpoints() as local:
        ckpt.truncate(df)
        ckpt.materialize(df)
    request.getfixturevalue("session_checkpoint_dir")
    with captured_checkpoints() as reliable:
        ckpt.truncate(df)
        ckpt.materialize(df)
    assert [label for label, _ in local] == [
        "eager localCheckpoint", "lazy localCheckpoint"
    ]
    assert [label for label, _ in reliable] == [
        "eager checkpoint", "lazy checkpoint"
    ]
    assert all("Filter" in plan for _, plan in local + reliable)

    ckpt.truncate(df)
    assert len(reliable) == 2


def test_profile_subcommand_prints_layers(sf_small):
    """``profile`` prints one stderr line per run and, last on stdout,
    one JSON line of per-layer medians: the pricing summary is a lazy
    plan, so it runs no job at build time and at least one at exec."""
    env = dict(os.environ)
    # a second JVM next to the suite's own: keep it small
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-m", "bigdata_capstone_spark", "profile",
         "pricing_summary", "--runs", "1", "--sf-dir", sf_small],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=600,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "# run1 pricing_summary:" in proc.stderr
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    layers = out["medians"]["pricing_summary"]
    assert layers["build_jobs"] == 0 and layers["exec_jobs"] >= 1, layers
    assert layers["stages_missing"] == 0, layers
    assert layers["tasks"] >= layers["exec_jobs"], layers
    assert len(out["samples"]["pricing_summary"]) == out["runs"] == 1
