"""``tera_files``: the run.sh shape of the tera pipeline over record files.

One job is three stages, each a separate Spark action:

1. ``teragen`` → ``write_tera_files`` (unsorted record files);
2. ``Engine.read_tera_records_split`` → ``terasort`` → ``write_tera_files``;
3. ``read_tera_records_split`` → ``teravalidate``.

teragen is deterministic by design (record r is a pure function of r),
so the seed picks the record count: different seeds give different
record sets, sort boundaries and checksums at the same size.
"""

from __future__ import annotations

import os
import shutil
import zlib

from harness import MB, duration, spark_layer, stages_under, sum_stages

from pandamapreduce_spark.engine import Engine
from pandamapreduce_spark.operators import tera

RECORDS = 200_000


def crc_sum(path: str) -> tuple[int, int]:
    """(record count, sum of per-record crc32) over a directory of
    100-byte record files, computed here with zlib, independently of
    the program's own validator."""
    n = total = 0
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            data = f.read()
        view = memoryview(data)
        for off in range(0, len(data) - len(data) % tera.RECORD_LEN, tera.RECORD_LEN):
            total += zlib.crc32(view[off : off + tera.RECORD_LEN])
            n += 1
    return n, total


def dir_mb(path: str) -> float:
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path)) / MB


class TeraFiles:
    name = "tera_files"
    checks_per_job = 1

    def __init__(self, work: str, seed: int, scale: float = 1.0):
        self.records = max(1000, int(RECORDS * scale)) + seed % 1000
        self.gen_dir = os.path.join(work, "tera-gen")
        self.sorted_dir = os.path.join(work, "tera-sorted")
        self.input_mb = self.records * tera.RECORD_LEN / MB

    def generate(self) -> None:
        """Nothing to stage: teragen is part of every job."""

    def start(self, spark) -> None:
        self.spark = spark
        self.engine = Engine(spark)
        self.partitions = spark.sparkContext.defaultParallelism

    def run(self, tr) -> dict:
        for d in (self.gen_dir, self.sorted_dir):
            shutil.rmtree(d, ignore_errors=True)
        with tr.span("tera.gen_write"):
            with tr.span("tera.teragen"):
                gen = tera.teragen(self.spark, self.records, self.partitions)
            with tr.span("sink.write_tera_files"):
                tera.write_tera_files(gen, self.gen_dir)
        with tr.span("tera.read_sort_write"):
            with tr.span("sources.read_tera_records_split"):
                recs = self.engine.read_tera_records_split(self.gen_dir).df
            with tr.span("tera.terasort"):
                ordered = tera.terasort(recs, self.partitions)
            with tr.span("sink.write_tera_files"):
                tera.write_tera_files(ordered, self.sorted_dir)
        return self.validate(tr)

    def validate(self, tr) -> dict:
        with tr.span("tera.read_validate"):
            with tr.span("sources.read_tera_records_split"):
                recs = self.engine.read_tera_records_split(self.sorted_dir).df
            with tr.span("tera.teravalidate"):
                return tera.teravalidate(recs)

    def check(self, verdict: dict) -> tuple[int, int]:
        """Sorted, boundaries in order, count preserved, and the
        validator's checksum equal to the crc32 sum of the unsorted
        teragen output."""
        n_gen, crc_gen = crc_sum(self.gen_dir)
        ok = (
            verdict["all_sorted"]
            and verdict["boundaries_ok"]
            and n_gen == self.records
            and verdict["n_records"] == self.records
            and verdict["checksum"] == crc_gen
        )
        return 1, 0 if ok else 1

    def corruptions(self, verdict: dict, tr) -> dict[str, dict]:
        """Swap the first and last record of the first sorted file and
        validate again: the result must be rejected."""
        path = os.path.join(self.sorted_dir, sorted(os.listdir(self.sorted_dir))[0])
        with open(path, "r+b") as f:
            data = bytearray(f.read())
            last = len(data) - tera.RECORD_LEN
            data[: tera.RECORD_LEN], data[last:] = data[last:], data[: tera.RECORD_LEN]
            f.seek(0)
            f.write(data)
        return {"swapped records": self.validate(tr)}

    def layers(self, spans: list[dict], metrics: dict, job_s: float, cores: int) -> dict:
        top = {s["name"]: s for s in spans if s["parent"] is None}
        sort_stages, _ = stages_under(spans, top["tera.read_sort_write"], metrics)
        stages, jobs = [], 0
        for root in top.values():
            st, j = stages_under(spans, root, metrics)
            stages += st
            jobs += j
        sort = sum_stages(sort_stages)
        out = {
            "tera.gen_write_s": duration(top["tera.gen_write"]),
            "tera.read_sort_write_s": duration(top["tera.read_sort_write"]),
            "tera.read_validate_s": duration(top["tera.read_validate"]),
            "tera.exchange_write_mb": sort["shuffle_write_mb"],
            "tera.spill_mb": sort["spill_mb"],
            "sink.written_mb": dir_mb(self.gen_dir) + dir_mb(self.sorted_dir),
        }
        out.update(spark_layer(stages, jobs, job_s, cores))
        return out
