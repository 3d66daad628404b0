"""Manifest carry contract of the snapshot commit operations: each
operation sets some manifest keys, a full rewrite clears the keys that
described the old file set, and every other key carries unchanged from
the parent manifest. ``rollback`` restores its target's whole state.

Two fixtures hold every optional key at once: stats shards, an evolved
partition spec (partitioned fixture only), a renamed column (field-ID
metadata), a merge-on-read delete file and a deletion vector. Each
operation runs once on its own copy of a fixture."""

from __future__ import annotations

import shutil

import pytest

import fraud_detection_etl_project_spark.snapshot as S

# keys that describe the commit itself, never carried
_COMMIT = {"version", "parent", "operation", "ts", "batch_id", "file_seq"}
_FIELD_IDS = {"fields", "renames", "next_field_id"}
_SPEC_HISTORY = {"partition_specs", "partition_indexes", "default_spec_id"}
_REWRITE_CLEARS = {"delete_files", "stats_shards", "dv_files"} | _FIELD_IDS
_DATA = {"files", "stats"}


def _rows(spark, lo, hi):
    return spark.range(lo, hi, numPartitions=2).selectExpr(
        "id AS k", "CAST(id % 3 AS STRING) AS g", "CAST(id * 1.5 AS DOUBLE) AS v",
        "id * 2 AS x",
    )


def _fixture(spark, root, partitioned: bool) -> tuple[str, int]:
    """A table holding every optional manifest key; returns its path and
    the version before its rename and deletes (the rollback target)."""
    t = str(root / ("part" if partitioned else "flat"))
    spec = [{"column": "g", "transform": "identity"}] if partitioned else None
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(S, "_INLINE_STATS_MAX", 0)  # every stat entry goes to a shard
        S.overwrite(_rows(spark, 0, 40), t, partition_spec=spec)
        if partitioned:
            S.evolve_partition_spec(t, [{"column": "k", "transform": "bucket", "n": 4}])
        target = S.append(_rows(spark, 40, 60), t)
        S.rename_column(t, "v", "val")
        S.delete_keys_mor(spark, t, spark.range(3, 5).withColumnRenamed("id", "k"))
        S.delete_where_dv(spark, t, [("k", "<", 2)])
    head = S.read_manifest(t, S.current_version(t))
    held = {k for k, v in head.items() if v}
    assert _REWRITE_CLEARS | {"schema"} <= held
    assert not partitioned or {"partition_spec"} | _SPEC_HISTORY <= held
    return t, target


@pytest.fixture(scope="module")
def fixtures(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("carry")
    return {p: _fixture(spark, root, p) for p in (True, False)}


def _run(fixtures, tmp_path, partitioned, op):
    """Run ``op`` on a fresh copy of a fixture; return the copy's path,
    the parent manifest and the new manifest."""
    t = str(tmp_path / "t")
    shutil.copytree(fixtures[partitioned][0], t)
    parent = S.current_version(t)
    v = op(t)
    assert v != parent, "the operation committed nothing"
    return t, S.read_manifest(t, parent), S.read_manifest(t, v)


def _assert_carry(parent_m, m, sets, clears):
    for k in clears:
        assert parent_m.get(k), f"fixture lacks {k!r}: the clear proves nothing"
        assert not m.get(k), f"{k!r} not cleared"
    for k in (set(parent_m) | set(m)) - _COMMIT - set(sets) - set(clears):
        assert m.get(k) == parent_m.get(k), f"{k!r} not carried"
    seq = parent_m["file_seq"]
    assert m["file_seq"] == {f: seq.get(f, m["version"]) for f in m["files"]}


def _new_rows(spark):
    return _rows(spark, 100, 110).withColumnRenamed("v", "val")


_OPS = {
    "append": (
        lambda spark, t: S.append(_new_rows(spark), t),
        _DATA | {"schema", "partition_indexes"}, set(),
    ),
    "overwrite": (
        lambda spark, t: S.overwrite(_new_rows(spark), t),
        _DATA | {"schema", "partition_spec", "partition_index"},
        _REWRITE_CLEARS | _SPEC_HISTORY,
    ),
    "delete": (
        lambda spark, t: S.delete(spark, t, [("k", "=", 30)]),
        _DATA | {"delete_files", "partition_indexes"}, set(),
    ),
    "merge": (
        lambda spark, t: S.merge(spark, t, _rows(spark, 50, 70).withColumnRenamed("v", "val"), ["k"]),
        _DATA | {"delete_files", "schema", "partition_indexes"}, set(),
    ),
    "delete_where_dv": (
        lambda spark, t: S.delete_where_dv(spark, t, [("k", "=", 20)]),
        {"dv_files"}, set(),
    ),
    "delete_keys_mor": (
        lambda spark, t: S.delete_keys_mor(spark, t, spark.range(7, 8).withColumnRenamed("id", "k")),
        {"delete_files"}, set(),
    ),
    "evolve_partition_spec": (
        lambda spark, t: S.evolve_partition_spec(t, [{"column": "g", "transform": "identity"}]),
        {"partition_spec"} | _SPEC_HISTORY, set(),
    ),
    "rename_column": (
        lambda spark, t: S.rename_column(t, "g", "grp"),
        {"schema", "partition_spec", "partition_specs"} | _FIELD_IDS, set(),
    ),
    "drop_column": (
        lambda spark, t: S.drop_column(t, "x"),
        {"schema"} | _FIELD_IDS, set(),
    ),
    "compact": (
        lambda spark, t: S.compact(spark, t, 2),
        _DATA | {"partition_index"}, _REWRITE_CLEARS | _SPEC_HISTORY,
    ),
}


@pytest.mark.parametrize("name", sorted(_OPS))
def test_partitioned_table_carries_what_the_operation_does_not_set(spark, fixtures, tmp_path, name):
    op, sets, clears = _OPS[name]
    _, parent_m, m = _run(fixtures, tmp_path, True, lambda t: op(spark, t))
    _assert_carry(parent_m, m, sets, clears)


def test_unpartitioned_compact_clears_the_rewritten_state(spark, fixtures, tmp_path):
    _, parent_m, m = _run(fixtures, tmp_path, False, lambda t: S.compact(spark, t, 2))
    assert "partition_spec" not in parent_m
    _assert_carry(parent_m, m, _DATA, _REWRITE_CLEARS)


@pytest.mark.parametrize("partitioned", [True, False])
def test_rollback_restores_every_key_of_its_target(spark, fixtures, tmp_path, partitioned):
    target = fixtures[partitioned][1]
    t, parent_m, m = _run(fixtures, tmp_path, partitioned, lambda t: S.rollback(t, target))
    target_m = S.read_manifest(t, target)
    own = {"version", "parent", "ts", "operation", "batch_id"}
    assert m["parent"] == parent_m["version"] and m["operation"] == "rollback"
    assert {k: v for k, v in m.items() if k not in own} == {
        k: v for k, v in target_m.items() if k not in own
    }
    # the rollback crosses the rename and both deletes
    assert parent_m.get("fields") and not target_m.get("fields")
