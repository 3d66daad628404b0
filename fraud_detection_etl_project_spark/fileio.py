"""FileIO seam for the snapshot table's COMMIT PROTOCOL (snapshot.py).

The table format's atomicity needs two primitives beyond plain
read/exists/delete:

- ``put_if_absent(path, data)`` — create a file with its FULL content
  visible atomically, failing if the path already exists. This is the
  whole concurrency story: manifest version numbers and per-ref head
  generations are both claimed with it, so two writers racing for the
  same (ref, parent) transition collide on the same object name and
  exactly one wins. It is also the only way the protocol writes a
  file: every other file (stats shards, ref birth records, the
  scan-time candidate list) is likewise created once and never
  rewritten.
- ``listdir(path)`` — enumerate a directory/prefix (empty when absent).

Backends:

- :class:`PosixFileIO` — the default. ``put_if_absent`` is tmp-file +
  ``os.link`` (hard links fail with EEXIST atomically on POSIX, and the
  link target carries the tmp file's fully-written content).
- :class:`MemoryFileIO` — an object-store MODEL for tests: a flat
  key→bytes map where ``put_if_absent`` is a conditional PUT
  (``If-None-Match: *`` in S3 terms) and there is NO rename and NO
  hard link, exactly the primitive set S3/GCS offer. Race-injection
  hooks (``before_put_if_absent``) let tests interleave a competing
  writer at the worst possible instant and prove lost-update
  impossibility.

Deploying against a real object store = implementing this class with
conditional PUTs (S3 ``If-None-Match``, GCS ``ifGenerationMatch=0``);
the commit protocol in snapshot.py never relies on rename, link, or
directory atomicity — only on conditional create + list.

Reference parity: the reference's "commit" is an unconditional
Postgres INSERT inside one Lambda invocation
(`/root/reference/Lambda Function/lambda_function_aws.py:63-99`); this
seam is what the same append contract needs once the sink is a shared
100 TB object-store table with many concurrent writers.
"""

from __future__ import annotations

import os
import threading
import uuid
from typing import Callable


class FileIO:
    """Abstract metadata-file IO. Paths are opaque strings; directories
    are a naming convention (object stores have prefixes, not dirs)."""

    def read_bytes(self, path: str) -> bytes:
        raise NotImplementedError

    def put_if_absent(self, path: str, data: bytes) -> bool:
        """Create ``path`` with ``data`` iff it does not exist. Returns
        True on success, False if the path already existed. Content is
        all-or-nothing: no reader ever observes a partial file."""
        raise NotImplementedError

    def listdir(self, path: str) -> list[str]:
        """Immediate child names under ``path`` (no recursion); [] when
        the directory/prefix does not exist."""
        raise NotImplementedError

    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def remove(self, path: str) -> None:
        """Delete a file; missing paths are a no-op (idempotent)."""
        raise NotImplementedError

    def makedirs(self, path: str) -> None:
        """Ensure a directory exists (no-op for flat object stores)."""
        raise NotImplementedError

    # convenience text wrappers -------------------------------------
    def read_text(self, path: str) -> str:
        return self.read_bytes(path).decode("utf-8")

    def put_text_if_absent(self, path: str, text: str) -> bool:
        return self.put_if_absent(path, text.encode("utf-8"))


class PosixFileIO(FileIO):
    """Local-filesystem backend: link-based conditional create. This is
    the tested default; HDFS has the same primitive
    (create-no-overwrite)."""

    def read_bytes(self, path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    @staticmethod
    def _tmp_for(path: str) -> str:
        """Same-directory staging name (os.link needs one filesystem)
        that no lister can mistake for a live object: it starts with '.',
        and every directory the snapshot protocol lists (manifests,
        heads, refs, data) filters dot-names out. A tmp named
        '<target>.tmpXX' transiently satisfied startswith('g') /
        endswith('.json') filters and crashed concurrent readers."""
        d, base = os.path.split(path)
        return os.path.join(d, f".tmp-{uuid.uuid4().hex}-{base}")

    def put_if_absent(self, path: str, data: bytes) -> bool:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = self._tmp_for(path)
        with open(tmp, "wb") as f:
            f.write(data)
        try:
            os.link(tmp, path)  # atomic EEXIST on collision
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)

    def listdir(self, path: str) -> list[str]:
        try:
            return os.listdir(path)
        except FileNotFoundError:
            return []

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def remove(self, path: str) -> None:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass

    def makedirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)


class MemoryFileIO(FileIO):
    """In-memory object-store model: flat key space, conditional PUT,
    list-by-prefix, no rename/link. ``before_put_if_absent`` (if set)
    runs INSIDE the store lock's acquisition path, immediately before
    the existence check — a test hooks it to commit a competing write
    at the precise moment a lost update would occur on a non-CAS
    protocol."""

    def __init__(self) -> None:
        self._objects: dict[str, bytes] = {}
        self._lock = threading.RLock()
        self.before_put_if_absent: Callable[[str], None] | None = None

    def read_bytes(self, path: str) -> bytes:
        with self._lock:
            if path not in self._objects:
                raise FileNotFoundError(path)
            return self._objects[path]

    def put_if_absent(self, path: str, data: bytes) -> bool:
        hook = self.before_put_if_absent
        if hook is not None:
            hook(path)  # race-injection point (outside the lock, like a
            # slow network hop between deciding to PUT and the PUT landing)
        with self._lock:
            if path in self._objects:
                return False
            self._objects[path] = data
            return True

    def listdir(self, path: str) -> list[str]:
        prefix = path.rstrip("/") + "/"
        with self._lock:
            out = set()
            for k in self._objects:
                if k.startswith(prefix):
                    out.add(k[len(prefix):].split("/", 1)[0])
            return sorted(out)

    def exists(self, path: str) -> bool:
        prefix = path.rstrip("/") + "/"
        with self._lock:
            return path in self._objects or any(
                k.startswith(prefix) for k in self._objects
            )

    def remove(self, path: str) -> None:
        with self._lock:
            self._objects.pop(path, None)

    def makedirs(self, path: str) -> None:
        pass  # prefixes need no creation


POSIX_IO = PosixFileIO()
MEMORY_IO = MemoryFileIO()


def resolve_io(table_path: str) -> FileIO:
    """FileIO for a table path: ``mem://`` routes to the shared
    in-memory object store (tests), everything else to POSIX. A real
    deployment registers its S3/GCS implementation here."""
    if table_path.startswith("mem://"):
        return MEMORY_IO
    return POSIX_IO
