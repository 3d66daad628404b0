"""Task-retry determinism: results must be bit-identical when tasks fail
and recompute.

On a real cluster, tasks die routinely (preemption, OOM, flaky nodes) and
Spark silently re-runs them; every operator in this repo is safe under
that only because its per-partition computation is deterministic (no
wall-clock, no RNG, no partition-order dependence). This test makes the
property observable: a mapInPandas stage whose Python function CRASHES on
the first attempt of every partition (tracked via marker files) runs under
``local[4, 2]`` (task retries enabled — plain ``local[N]`` runs with
maxFailures=1, which is why this needs its own subprocess session) and
must produce exactly the no-failure result.
"""

from __future__ import annotations

import os
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import os, sys
sys.path.insert(0, %(repo)r)
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

marker_dir = %(markers)r
spark = (
    SparkSession.builder.master("local[4, 2]")
    .appName("retry-determinism")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)

def flaky_double(batches):
    from pyspark import TaskContext

    ctx = TaskContext.get()
    marker = os.path.join(marker_dir, f"p{ctx.partitionId()}")
    if not os.path.exists(marker):
        with open(marker, "w") as f:
            f.write("attempted")
        raise RuntimeError("injected first-attempt failure")
    for pdf in batches:
        pdf["doubled"] = pdf["v"] * 2
        yield pdf

df = spark.range(0, 1000).select(F.col("id").alias("v")).repartition(4)
out = df.mapInPandas(flaky_double, "v long, doubled long")
rows = sorted((r["v"], r["doubled"]) for r in out.collect())
expected = sorted((i, 2 * i) for i in range(1000))
assert rows == expected, f"retry changed results: {len(rows)} rows"
attempts = len(os.listdir(marker_dir))
assert attempts == 4, f"expected one injected failure per partition, saw {attempts}"
print("RETRY_OK", len(rows), attempts)
spark.stop()
"""


def test_results_identical_under_task_retries(tmp_path):
    r = subprocess.run(
        [sys.executable, "-c", _SCRIPT % {"repo": _REPO, "markers": str(tmp_path)}],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "RETRY_OK 1000 4" in r.stdout, f"stdout={r.stdout[-2000:]}\nstderr={r.stderr[-2000:]}"
