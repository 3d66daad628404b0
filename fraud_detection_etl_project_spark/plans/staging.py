"""Staging for the inputs some registered queries derive from the fixture
tables: a snapshot table with several commits, an Avro or TFRecord file,
a partitioned parquet layout.

Derived data is a cache rebuilt from its inputs, never state trusted
across processes. Every staged dir lives under one temp root that the
process makes on first use and removes at exit, and ``staged`` builds
each dir once per process, from a clean slate.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
from collections.abc import Callable, Sequence

_root: str | None = None
_built: set[str] = set()


def _fixture_tag(sf_dir: str, *tables: str) -> str:
    """Tag a staging dir by the sf_dir path AND the file identity
    (mtime_ns, size) of the fixture tables it derives from, so a fixture
    regenerated in place gets a fresh staging dir."""
    parts = [os.path.abspath(sf_dir)]
    for t in tables:
        p = os.path.join(sf_dir, f"{t}.parquet")
        try:
            st = os.stat(p)
            parts.append(f"{t}:{st.st_mtime_ns}:{st.st_size}")
        except OSError:
            parts.append(f"{t}:absent")
    return hashlib.md5("\n".join(parts).encode()).hexdigest()[:12]


def root() -> str:
    """This process's staging root. Made on the first call, not at
    import, because Python workers import the plan modules too; removed
    when the interpreter exits."""
    global _root
    if _root is None:
        _root = tempfile.mkdtemp(prefix="sparkgraft_stage_")
        atexit.register(shutil.rmtree, _root, ignore_errors=True)
    return _root


def staged(
    sf_dir: str, name: str, tables: Sequence[str], build: Callable[[str], None]
) -> str:
    """The dir ``<root>/<name>_<tag>`` holding what ``build(dir)`` wrote
    from the fixture ``tables`` of ``sf_dir``. The first call in this
    process builds it; later calls return it as built. A ``build`` that
    raises records nothing, so the next call builds again."""
    d = os.path.join(root(), f"{name}_{_fixture_tag(sf_dir, *tables)}")
    if d not in _built:
        # Clean slate, because builds do not resume: a snapshot commit
        # stacks a new version on whatever table a failed build left, and
        # create_branch refuses a ref that already exists.
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        build(d)
        _built.add(d)
    return d
