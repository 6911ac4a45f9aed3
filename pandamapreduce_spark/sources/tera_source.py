"""Splittable fixed-width record reader as a Python Data Source (V2).

The reference reads arbitrary record files in 32 MB units with
read-ahead (``include/panda/PandaChunk.h:16-52``,
``TeraInputFormat.scala:62-86``); this is the Spark-native equivalent:
a registered ``spark.read.format("tera")`` source whose planner cuts
every input file into record-aligned byte ranges — one Spark task per
range — so a single multi-GB file parallelizes. IO goes through
``pyarrow.fs``, which resolves local paths AND object-store URIs
(s3://, gs://, hdfs://) to the same FileSystem interface, replacing
the earlier driver-side ``glob`` + task-side ``open`` local-only path.

Tasks return zero-copy Arrow record batches (the same
``_binary_array`` construction teragen uses), so no per-record Python
object is ever built.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import TYPE_CHECKING, Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from pandamapreduce_spark.operators.tera import KEY_LEN, RECORD_LEN, _binary_array

if TYPE_CHECKING:
    import pyarrow as pa

DEFAULT_SPLIT_BYTES = 32 * 1024 * 1024

#: stream a range in sub-reads of this many records so a 32 MB split
#: never holds more than one read-unit + one batch in memory at once
BATCH_RECORDS = 65_536


def _resolve_fs(path: str):
    """(FileSystem, fs-internal path) for a local path or URI."""
    from pyarrow import fs as pafs

    try:
        return pafs.FileSystem.from_uri(path)
    except Exception:
        return pafs.LocalFileSystem(), path


def _list_record_files(path: str) -> list[tuple[str, str, int]]:
    """Expand ``path`` (file, directory, or URI) into
    ``(uri_prefix, fs_path, size)`` per regular file, sorted by path.
    ``uri_prefix`` preserves the scheme so tasks re-resolve the same
    filesystem."""
    from pyarrow import fs as pafs

    fsys, p = _resolve_fs(path)
    scheme = path[: len(path) - len(p)]  # e.g. "s3://bucket" or ""
    info = fsys.get_file_info(p)
    if info.type == pafs.FileType.Directory:
        sel = pafs.FileSelector(p, recursive=False)
        files = [f for f in fsys.get_file_info(sel) if f.type == pafs.FileType.File]
    elif info.type == pafs.FileType.File:
        files = [info]
    else:
        raise FileNotFoundError(path)
    return sorted((scheme + f.path, f.path, f.size) for f in files)


@dataclass
class TeraSplit(InputPartition):
    uri: str
    fs_path: str
    start: int
    length: int


class TeraReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("tera source requires a path: spark.read.format('tera').load(path)")
        self.split_bytes = int(options.get("split_bytes", DEFAULT_SPLIT_BYTES))

    def partitions(self) -> list[TeraSplit]:
        """Record-aligned byte ranges, planned driver-side from file
        metadata only (sizes — no data reads), exactly like Spark's own
        FileSourceScan split planning."""
        align = max(RECORD_LEN, (self.split_bytes // RECORD_LEN) * RECORD_LEN)
        splits = []
        for uri, fs_path, size in _list_record_files(self.path):
            usable = (size // RECORD_LEN) * RECORD_LEN  # ignore a truncated tail
            off = 0
            while off < usable:
                n = min(align, usable - off)
                splits.append(TeraSplit(uri, fs_path, off, n))
                off += n
        return splits or [TeraSplit("", "", 0, 0)]

    def read(self, split: TeraSplit) -> Iterator["pa.RecordBatch"]:
        import numpy as np
        import pyarrow as pa

        if not split.length:
            return
        fsys, _ = _resolve_fs(split.uri or split.fs_path)
        with fsys.open_input_file(split.fs_path) as f:
            f.seek(split.start)
            remaining = split.length
            while remaining > 0:
                chunk = f.read(min(remaining, BATCH_RECORDS * RECORD_LEN))
                remaining -= len(chunk)
                n = len(chunk) // RECORD_LEN
                recs = np.frombuffer(chunk, np.uint8)[: n * RECORD_LEN].reshape(n, RECORD_LEN)
                kflat = np.ascontiguousarray(recs[:, :KEY_LEN]).reshape(-1)
                vflat = np.ascontiguousarray(recs[:, KEY_LEN:]).reshape(-1)
                yield pa.record_batch(
                    [_binary_array(kflat, n, KEY_LEN), _binary_array(vflat, n, RECORD_LEN - KEY_LEN)],
                    names=["key", "value"],
                )


class TeraDataSource(DataSource):
    """``spark.read.format("tera").load(path)`` → (key binary, value binary)."""

    @classmethod
    def name(cls) -> str:
        return "tera"

    def schema(self) -> str:
        return "key binary, value binary"

    def reader(self, schema) -> TeraReader:
        return TeraReader(dict(self.options))


def register(spark) -> None:
    """Idempotently register the source with a session."""
    spark.dataSource.register(TeraDataSource)
