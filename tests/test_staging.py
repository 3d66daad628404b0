"""Fixture staging (``plans.staging``): each derived input is built once
per process, from a clean slate, under a temp root the process owns."""

from __future__ import annotations

import ast
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest
from conftest import SF_SMALL

import fraud_detection_etl_project_spark
from fraud_detection_etl_project_spark import snapshot as snap
from fraud_detection_etl_project_spark.plans import REGISTRY

PKG = Path(fraud_detection_etl_project_spark.__file__).parent
REPO = Path(__file__).resolve().parents[1]


def test_failed_build_restages_from_clean_slate(spark, tmp_path, monkeypatch):
    """A build killed between its append and its rollback must not leave
    a table that the next call stacks new versions on: the retry rebuilds
    v1..v3 and reports head 3, as the oracle does."""
    shutil.copy(os.path.join(SF_SMALL, "orders.parquet"), tmp_path)  # fresh tag
    rollup = REGISTRY["snapshot_rollback_rollup"].fn

    def killed(*args, **kwargs):
        raise RuntimeError("killed before rollback")

    monkeypatch.setattr(snap, "rollback", killed)
    with pytest.raises(RuntimeError, match="killed before rollback"):
        rollup(spark, str(tmp_path))
    monkeypatch.undo()

    rows = rollup(spark, str(tmp_path)).collect()
    assert rows and {r["head_version"] for r in rows} == {3}


_CHILD = """
import os, sys
from fraud_detection_etl_project_spark.plans.staging import staged

def build(d):
    with open(os.path.join(d, "probe.txt"), "w") as f:
        f.write("staged")

print(staged(sys.argv[1], "probe", ("orders",), build))
"""


def _stage_in_child(sf_dir: str, tmpdir: str) -> str:
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, sf_dir],
        cwd=REPO,
        env={**os.environ, "TMPDIR": tmpdir},
        capture_output=True,
        text=True,
        check=True,
    )
    return out.stdout.strip().splitlines()[-1]


def test_staged_dirs_live_as_long_as_their_process(tmp_path):
    """Nothing staged outlives the process that staged it, so a later
    process (or another checkout) never reads it."""
    tmpdir = tmp_path / "tmp"
    tmpdir.mkdir()
    first = _stage_in_child(SF_SMALL, str(tmpdir))
    assert Path(first).parent.parent == tmpdir
    assert Path(first).name.startswith("probe_")
    assert not os.path.exists(first)
    assert list(tmpdir.iterdir()) == []  # the root went with it
    second = _stage_in_child(SF_SMALL, str(tmpdir))
    assert Path(second).parent != Path(first).parent


def test_package_zip_lives_as_long_as_its_process(tmp_path):
    """The package zip shipped to Python workers is built under a temp
    dir its process removes at exit, so no zip outlives the run."""
    code = "from fraud_detection_etl_project_spark.sources import parquet; print(parquet._package_zip())"
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    )
    z = Path(out.stdout.strip().splitlines()[-1])
    assert z.suffix == ".zip" and tmp_path in z.parents
    assert not z.exists()
    assert list(tmp_path.iterdir()) == []


def _docstrings(tree: ast.AST) -> set[int]:
    owners = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
    return {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(node, owners)
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }


def test_staging_only_through_the_helper():
    """The package makes temp dirs only in ``plans/staging.py`` (and for
    the package zip), and no plan trusts a sentinel file."""
    temp_call = re.compile(r"\b(?:gettempdir|mkdtemp)\(")
    users = sorted(
        p.relative_to(PKG).as_posix() for p in PKG.rglob("*.py") if temp_call.search(p.read_text())
    )
    assert users == ["plans/staging.py", "sources/parquet.py"]

    sentinels = []
    for p in sorted((PKG / "plans").glob("*.py")):
        tree = ast.parse(p.read_text())
        skip = _docstrings(tree)
        sentinels += [
            f"{p.name}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Constant)
            and node.value in ("_STAGED", "_SUCCESS")
            and id(node) not in skip
        ]
    assert sentinels == []
