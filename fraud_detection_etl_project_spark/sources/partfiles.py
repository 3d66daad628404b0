"""The part-file protocol of the package's Python DataSource file sinks
(``pyavro``, ``pyarrowipc``, ``pynpy``, ``pytfrecord``), and the one
registration path for its Python DataSources.

A sink directory holds ``part-NNNNN.<ext>`` data files and a ``_SUCCESS``
marker. Each task streams its rows into its own ``_tmp_<uuid>.<ext>``
file and returns that path as its commit message. The driver-side commit
then publishes the task files:

* overwrite removes the directory's data files and ``_SUCCESS`` and
  numbers the new parts from ``part-00000``; append numbers them after
  the highest ``part-NNNNN`` already there, so it only adds rows;
* each task file is renamed into place (``os.replace``), every
  ``_tmp_*.<ext>`` still left (a task attempt that died before returning
  a message) is removed, and ``_SUCCESS`` is written.

What this guarantees: a failed or retried task never publishes a file,
because only the task files named in the commit messages are renamed.
What it does not: overwrite deletes the old parts before it renames the
new ones, and parts are renamed one at a time, so a reader listing the
directory during a commit may see a partial listing. ``snapshot.py`` is
the engine's atomic table format.
"""

from __future__ import annotations

import os
import re
import sys
import uuid

from pyspark import cloudpickle
from pyspark.sql.datasource import DataSourceWriter, WriterCommitMessage

from fraud_detection_etl_project_spark.sources.parquet import ship_package

_SUCCESS = "_SUCCESS"
_TMP = "_tmp_"
_PART = re.compile(r"part-([0-9]{5})\.(\w+)")


def data_files(path: str, ext: str, shards: bool = False) -> list[str]:
    """A bare file, or the sorted data files of a directory: names that
    end in ``.<ext>`` and do not start with ``_``. ``shards`` also lists
    ``name.<ext>-NNNNN-of-MMMMM`` shard names."""
    if not os.path.isdir(path):
        return [path]
    return sorted(
        os.path.join(path, f)
        for f in os.listdir(path)
        if not f.startswith("_") and (f.endswith(f".{ext}") or (shards and f".{ext}-" in f))
    )


class PartCommit(WriterCommitMessage):
    def __init__(self, tmp_path: str):
        self.tmp_path = tmp_path


class PartFileWriter(DataSourceWriter):
    """The driver-side half of the protocol. A format's writer sets
    ``ext`` (and ``shards`` if its reader lists shard names), and its
    ``write`` streams a task's rows into ``self.task_file()`` and returns
    ``PartCommit`` of that path."""

    ext: str
    shards = False

    def __init__(self, options: dict, overwrite: bool):
        self.path = options["path"]
        self.overwrite = overwrite

    def task_file(self) -> str:
        os.makedirs(self.path, exist_ok=True)
        return os.path.join(self.path, f"{_TMP}{uuid.uuid4().hex}.{self.ext}")

    def commit(self, messages):
        files = data_files(self.path, self.ext, self.shards)
        success = os.path.join(self.path, _SUCCESS)
        if self.overwrite:
            for f in files:
                os.remove(f)
            if os.path.exists(success):
                os.remove(success)
            start = 0
        else:
            parts = (_PART.fullmatch(os.path.basename(f)) for f in files)
            start = 1 + max(
                (int(m.group(1)) for m in parts if m and m.group(2) == self.ext), default=-1
            )
        for i, m in enumerate(messages):
            if m is not None:
                os.replace(m.tmp_path, os.path.join(self.path, f"part-{start + i:05d}.{self.ext}"))
        self._sweep()
        with open(success, "w"):
            pass

    def abort(self, messages):
        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)
        self._sweep()

    def _sweep(self) -> None:
        """By commit or abort time every messaged task file is renamed or
        removed, so a ``_tmp_*.<ext>`` still here belongs to an attempt
        that never reported back."""
        if not os.path.isdir(self.path):
            return
        for f in os.listdir(self.path):
            if f.startswith(_TMP) and f.endswith(f".{self.ext}"):
                try:
                    os.remove(os.path.join(self.path, f))
                except OSError:
                    pass


def register(spark, *sources) -> None:
    """Register each DataSource class under its ``name()``. Registering a
    name again replaces the earlier class, so callers register before
    each use. The package zip ships to the session's Python workers
    first: a source's module and the modules it imports (this one, for
    the file sinks) are imported there by name. Each class's module is
    also pickled by value: the driver-side streaming-source runner does
    not see ``addPyFile`` paths, so a source whose module imports nothing
    else from this package (``pysnapshot``, ``syntheticrowsstream``)
    reaches it whatever the launcher's cwd or PYTHONPATH."""
    ship_package(spark)
    for ds in sources:
        cloudpickle.register_pickle_by_value(sys.modules[ds.__module__])
        spark.dataSource.register(ds)
