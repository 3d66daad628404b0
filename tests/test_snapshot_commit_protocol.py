"""Commit-protocol concurrency proofs for the snapshot table, run
against the OBJECT-STORE FileIO model (fileio.MemoryFileIO): a flat
key space with conditional PUT and list — no rename, no hard link, no
directory atomicity. Every test here is metadata-only (no Spark, no
parquet): _publish/fast_forward/vacuum are driven with fabricated file
lists, and MemoryFileIO.before_put_if_absent injects a competing
writer at the exact instant a lost update would occur on a
check-then-act protocol.

What these tests pin down (the round-5 advisor findings):

- Two writers that planned against the SAME parent can never both
  return success: the ref CAS claim name encodes the generation being
  superseded, so they collide on one object and exactly one wins —
  even though their manifest version numbers differ (table-global
  numbering).
- fast_forward cannot silently discard a main commit that lands
  between its ancestor check and its pointer flip.
- vacuum keeps the full ancestor chain of every ref head, so an
  in-flight write-audit-publish branch stays fast-forwardable after
  routine housekeeping.
- An orphan manifest (crash between manifest write and ref CAS) never
  makes a replayed batch id look committed.
"""

from __future__ import annotations

import uuid

import pytest

import fraud_detection_etl_project_spark.snapshot as S
from fraud_detection_etl_project_spark.fileio import MEMORY_IO


@pytest.fixture()
def mem_table():
    t = f"mem://tbl-{uuid.uuid4().hex}"
    yield t
    MEMORY_IO.before_put_if_absent = None


def _commit(t: str, parent: int | None, op: str = "append", branch=None, batch_id=None):
    files = [f"f-{uuid.uuid4().hex}.parquet"]
    prev = S.read_manifest(t, parent)["files"] if parent is not None else []
    return S._publish(
        t, op, parent, {"files": prev + files, "stats": {}, "batch_id": batch_id}, branch=branch
    )


def test_same_parent_writers_cannot_both_succeed(mem_table):
    """ADVICE r5 (high): the lost-update race. Writer B plans against
    v1; at the instant B's ref CAS PUT is in flight, writer A's full
    commit (also against v1) lands. Exactly one returns success, the
    other raises; the loser's manifest is removed and the survivor is
    the head — no commit is ever silently orphaned off the chain."""
    t = mem_table
    assert _commit(t, None, "overwrite") == 1
    state = {"fired": False, "a_version": None}

    def interleave(path: str):
        # fire once, on B's attempt to claim CURRENT generation 2
        if state["fired"] or not path.endswith("heads/CURRENT/g0000000002"):
            return
        state["fired"] = True
        state["a_version"] = _commit(t, 1)  # writer A wins the transition

    MEMORY_IO.before_put_if_absent = interleave
    with pytest.raises(S.SnapshotConflictError):
        _commit(t, 1)  # writer B: same parent, loses the CAS
    MEMORY_IO.before_put_if_absent = None

    # B allocated manifest number 2 before A ran, so A landed as v3; B's
    # CAS then lost, its v2 manifest was removed, and A is the head
    assert state["a_version"] == 3
    assert S.current_version(t) == 3
    with pytest.raises(FileNotFoundError):
        S.read_manifest(t, 2)  # the loser's manifest was cleaned up
    assert S._chain(t, 3) == [3, 1]
    # and a well-formed retry against the new head succeeds
    assert _commit(t, 3) == 4


def test_stale_parent_refused_before_any_write(mem_table):
    t = mem_table
    _commit(t, None, "overwrite")            # v1
    _commit(t, 1)                            # v2
    with pytest.raises(S.SnapshotConflictError, match="moved past"):
        _commit(t, 1)                        # parent is stale
    assert S.current_version(t) == 2


def test_fast_forward_race_raises_not_discards(mem_table):
    """ADVICE r5 (medium): a main commit landing between fast_forward's
    ancestor check and its CURRENT flip must surface as a conflict —
    never be silently jumped over."""
    t = mem_table
    _commit(t, None, "overwrite")            # v1
    S.create_branch(t, "wap")
    _commit(t, 1, branch="wap")              # v2 on wap
    state = {"fired": False}

    def interleave(path: str):
        if state["fired"] or not path.endswith("heads/CURRENT/g0000000002"):
            return
        state["fired"] = True
        _commit(t, 1)                        # main advances to v3

    MEMORY_IO.before_put_if_absent = interleave
    with pytest.raises(S.SnapshotConflictError, match="fast-forward"):
        S.fast_forward(t, "wap")
    MEMORY_IO.before_put_if_absent = None

    # the interleaved main commit is intact and is the head
    assert S.current_version(t) == 3
    assert state["fired"]


def test_fast_forward_succeeds_atomically_when_unraced(mem_table):
    t = mem_table
    _commit(t, None, "overwrite")            # v1
    S.create_branch(t, "wap")
    v2 = _commit(t, 1, branch="wap")
    v3 = _commit(t, v2, branch="wap")
    assert S.current_version(t) == 1
    assert S.fast_forward(t, "wap") == v3
    assert S.current_version(t) == v3


def test_create_branch_race_single_winner(mem_table):
    t = mem_table
    _commit(t, None, "overwrite")
    state = {"fired": False}

    def interleave(path: str):
        if state["fired"] or "/refs/dup" not in path:
            return
        state["fired"] = True
        S.create_branch(t, "dup")            # competitor wins the name

    MEMORY_IO.before_put_if_absent = interleave
    with pytest.raises(ValueError, match="already exists"):
        S.create_branch(t, "dup")
    MEMORY_IO.before_put_if_absent = None
    assert S.branch_version(t, "dup") == 1


def test_vacuum_keeps_branch_lineage_fast_forwardable(mem_table):
    """ADVICE r5 (medium): with keep_versions=1, the manifests BETWEEN a
    branch head and its fork point must survive vacuum — otherwise
    _chain(branch_head) truncates and every in-flight WAP branch is
    permanently un-publishable."""
    t = mem_table
    _commit(t, None, "overwrite")            # v1 (main head, fork point)
    S.create_branch(t, "wap")
    v2 = _commit(t, 1, branch="wap")
    v3 = _commit(t, v2, branch="wap")
    S.vacuum(t, keep_versions=1)
    # intermediate v2 retained (it is on the branch head's chain)
    assert S.read_manifest(t, v2)["version"] == v2
    assert S._chain(t, v3) == [v3, v2, 1]
    assert S.fast_forward(t, "wap") == v3


def test_vacuum_prunes_gen_log_but_never_the_head(mem_table):
    t = mem_table
    v = _commit(t, None, "overwrite")
    for _ in range(5):
        v = _commit(t, v)
    hdir = S._heads_dir(t, "CURRENT")
    assert len(MEMORY_IO.listdir(hdir)) == 6
    S.vacuum(t, keep_versions=1)
    assert MEMORY_IO.listdir(hdir) == [S._gen_name(6)]
    assert S.current_version(t) == 6
    # and the table still commits normally afterwards
    assert _commit(t, 6) == 7


def test_orphan_manifest_does_not_fake_batch_completion(mem_table):
    """A crashed commit that wrote its manifest but never won the ref
    CAS is unreadable garbage; its batch id must NOT dedup a replay."""
    t = mem_table
    _commit(t, None, "overwrite")
    _commit(t, 1, batch_id="landed")
    # fabricate the orphan: manifest v9 exists, no ref reaches it
    import json
    import os

    mdir, _ = S._paths(t)
    MEMORY_IO.put_text_if_absent(
        os.path.join(mdir, S._manifest_name(9)),
        json.dumps({"version": 9, "parent": 2, "operation": "append",
                    "files": [], "stats": {}, "batch_id": "crashed",
                    "file_seq": {}, "delete_files": []}),
    )
    ids = S.committed_batch_ids(t)
    assert "landed" in ids and "crashed" not in ids


def test_concurrent_threads_on_object_store_lose_nothing(mem_table):
    """Thundering-herd check on the conditional-PUT model: 4 threads ×
    5 commits with a retry loop — every commit lands exactly once and
    the final chain length equals the total commit count."""
    import threading

    t = mem_table
    _commit(t, None, "overwrite")
    errors: list[Exception] = []

    def writer():
        for _ in range(5):
            for _attempt in range(200):
                try:
                    _commit(t, S.current_version(t))
                    break
                except S.SnapshotConflictError:
                    continue
            else:
                errors.append(RuntimeError("commit never succeeded"))

    threads = [threading.Thread(target=writer) for _ in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    head = S.current_version(t)
    chain = S._chain(t, head)
    assert len(chain) == 21  # 1 initial + 20 thread commits, none lost
    # files accumulate one per commit along the chain (append semantics)
    assert len(S.read_manifest(t, head)["files"]) == 21


def test_recreated_ref_does_not_inherit_dead_head(mem_table):
    """drop + recreate under the same name must start at the new birth
    version — even if a crashed drop left generation-log remnants."""
    t = mem_table
    _commit(t, None, "overwrite")            # v1
    S.create_branch(t, "r")
    v2 = _commit(t, 1, branch="r")           # r at v2
    assert S.branch_version(t, "r") == v2
    # simulate a drop that crashed after removing the birth record but
    # before sweeping the generation log (the pre-fix failure ordering)
    MEMORY_IO.remove(S._ref_path(t, "r"))
    assert S.branch_version(t, "r") is None
    _commit(t, 1)                            # main to v3
    S.create_branch(t, "r")                  # recreate at CURRENT (v3)
    assert S.branch_version(t, "r") == 3, "recreated ref inherited the dead head"
    v4 = _commit(t, 3, branch="r")
    assert S.branch_version(t, "r") == v4


def test_mor_delete_vs_cow_merge_single_winner(mem_table):
    """Round-7: concurrent MoR-delete and CoW-merge committers against the
    same parent. The merge's ref CAS must lose to the interleaved delete
    commit — it planned against a manifest with no delete files and its
    rewrite would not have applied them — and the delete commit's state is
    the head the retry replans from."""
    t = mem_table
    _commit(t, None, "overwrite")            # v1
    state = {"fired": False}

    def interleave(path: str):
        if state["fired"] or not path.endswith("heads/CURRENT/g0000000002"):
            return
        state["fired"] = True
        S._publish(
            t, "mor-delete", 1,
            {"files": S.read_manifest(t, 1)["files"], "stats": {},
             "delete_files": [{"name": "del-x.parquet", "on": ["k"], "seq": None}]},
        )

    MEMORY_IO.before_put_if_absent = interleave
    with pytest.raises(S.SnapshotConflictError):
        _commit(t, 1, "merge")
    MEMORY_IO.before_put_if_absent = None
    head = S.current_version(t)
    m = S.read_manifest(t, head)
    assert m["operation"] == "mor-delete"
    # the winning delete is live and stamped with its committed version —
    # a merge retry reads THIS manifest, so its rewrite applies the delete
    assert m["delete_files"][0]["seq"] == head


def test_randomized_interleaving_property_fuzz():
    """Round-7 linearizability fuzz: 200 seeded schedules of
    append / branch-append / create_branch / create_tag / drop_ref /
    recreate / vacuum / fast_forward, each step optionally interleaved —
    through the MemoryFileIO conditional-PUT hook, at the exact moment of
    the step's first conditional PUT — with a competing stale append,
    vacuum, or ref drop. Invariants after EVERY step:

    - no lost update: a commit that returned success IS its ref's head
      immediately afterwards;
    - no resurrected / regressed head: CURRENT's version is monotonically
      non-decreasing across the whole schedule;
    - no vacuumed live metadata: every live ref head's manifest is
      readable (vacuum never deletes a manifest a ref points at, nor an
      in-flight commit's v(cur+1).json);
    - tags are frozen: a live tag resolves to its creation version;
    - no resurrection: a recreated ref resolves to its new fork point,
      never the dropped incarnation's old head.
    """
    import random

    for seed in range(200):
        rng = random.Random(9_700_000 + seed)
        t = f"mem://fuzz-{seed}"
        _commit(t, None, "overwrite")                       # v1
        refs: dict[str, tuple[str, int]] = {}
        counter = {"n": 0}
        last_main = 1

        def fresh_name() -> str:
            counter["n"] += 1
            return f"r{counter['n']}"

        for _step in range(rng.randint(6, 12)):
            op = rng.choice(
                ["append", "branch_append", "create_branch", "create_tag",
                 "drop_ref", "recreate_ref", "vacuum", "fast_forward",
                 "rollback"]
            )
            inj = rng.choice([None, "stale_append", "vacuum", "drop"])

            def hook(path: str, inj=inj):
                MEMORY_IO.before_put_if_absent = None       # fire once, no recursion
                if inj == "stale_append":
                    try:
                        _commit(t, S.current_version(t))
                    except S.SnapshotConflictError:
                        pass
                elif inj == "vacuum":
                    S.vacuum(t, keep_versions=2)
                elif inj == "drop":
                    name = next(iter(refs), None)
                    if name is not None:
                        try:
                            S.drop_ref(t, name)
                        except FileNotFoundError:
                            pass
                        refs.pop(name, None)

            MEMORY_IO.before_put_if_absent = hook if inj else None
            try:
                if op == "append":
                    v = _commit(t, S.current_version(t))
                    assert S._head(t, "CURRENT")[1] == v    # no lost update
                elif op == "branch_append":
                    bs = [n for n, (k, _v) in refs.items() if k == "branch"]
                    if bs:
                        name = rng.choice(bs)
                        v = _commit(t, S.branch_version(t, name), branch=name)
                        assert S._head(t, name)[1] == v     # no lost update
                elif op == "create_branch":
                    name = fresh_name()
                    v = S.create_branch(t, name)
                    refs[name] = ("branch", v)
                elif op == "create_tag":
                    name = fresh_name()
                    v = S.create_tag(t, name)
                    refs[name] = ("tag", v)
                elif op == "drop_ref" and refs:
                    name = rng.choice(sorted(refs))
                    S.drop_ref(t, name)
                    refs.pop(name, None)
                    assert S.branch_version(t, name) is None
                elif op == "recreate_ref" and refs:
                    name = rng.choice(sorted(refs))
                    S.drop_ref(t, name)
                    refs.pop(name, None)
                    v = S.create_branch(t, name)
                    refs[name] = ("branch", v)
                    # no resurrection of the dead incarnation's head
                    assert S.branch_version(t, name) == v
                elif op == "vacuum":
                    S.vacuum(t, keep_versions=rng.randint(1, 3))
                elif op == "fast_forward":
                    bs = [n for n, (k, _v) in refs.items() if k == "branch"]
                    if bs:
                        S.fast_forward(t, rng.choice(bs))
                elif op == "rollback":
                    chain = S._chain(t, S.current_version(t))
                    v = S.rollback(t, rng.choice(chain))
                    # rollback is a NEW commit: the head moved FORWARD to it
                    assert S._head(t, "CURRENT")[1] == v
            except (S.SnapshotConflictError, ValueError, FileNotFoundError):
                pass                                        # a legal refusal
            finally:
                MEMORY_IO.before_put_if_absent = None

            cur = S.current_version(t)
            assert cur is not None and cur >= last_main, (seed, op, cur, last_main)
            last_main = cur
            S.read_manifest(t, cur)                         # head readable
            for name, (kind, v0) in list(refs.items()):
                bv = S.branch_version(t, name)
                assert bv is not None, (seed, op, name)
                S.read_manifest(t, bv)                      # ref head readable
                if kind == "tag":
                    assert bv == v0, (seed, name, bv, v0)   # tags frozen
            S.committed_batch_ids(t)                        # all chains walk
