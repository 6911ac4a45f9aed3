"""``query_mix``: one client running passes over registry queries and
the reference wordcount job through ``MapReduceJob``.

The queries read ``sf0.01/`` next to this file: byte-for-byte copies of
the repository's sf0.01 test fixture tables (TESTDATA.md) that the eight
queries use, kept here so a run reads only its own checkout. Each
query's expected result comes from its registry DuckDB oracle over the
same files, computed once in set-up; every collected result is compared
to it by a hash of its canonical form. The seed shuffles the order of
every pass and draws the wordcount step's corpus, whose expected counts
come from ``wordcount_job``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import random
from decimal import Decimal

import numpy as np
from harness import duration, spark_layer, stages_under, sum_stages
from wordcount_job import WordcountJob

from pandamapreduce_spark.plans import REGISTRY

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.01")

#: the registry queries of a pass -> the fixture tables each reads
QUERIES = {
    "q01_pricing_summary": ("lineitem",),
    "q06_forecast_revenue": ("lineitem",),
    "q03_top_orders": ("customer", "orders", "lineitem"),
    "q05_revenue_by_nation": ("lineitem", "orders", "customer", "nation"),
    "q121_bloom_prune_join": ("orders", "lineitem"),
    "q20_wordcount": ("documents",),
    "q32_minhash_lsh_candidates": ("documents",),
    "q86_quality_deciles": ("documents",),
}

#: the MapReduceJob step of every pass
MR_STEP = "mapreduce_wordcount"


def _canon_value(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{round(v, 6) + 0.0:.6f}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return str([_canon_value(x) for x in v])
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def result_hash(columns: list[str], rows) -> str:
    """Order- and column-order-independent hash of a result table."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(_canon_value(row[i]) for i in order) for row in rows)
    head = [columns[i] for i in order]
    return hashlib.sha256(repr((head, canon)).encode()).hexdigest()


class QueryMix:
    name = "query_mix"
    checks_per_job = len(QUERIES) + 1

    def __init__(self, work: str, seed: int, scale: float = 1.0):
        self.sf_dir = FIXTURE
        self.order_rng = random.Random(seed)
        self.mr = WordcountJob(work, seed, scale)
        self.expected: dict[str, str] = {}
        self.input_mb = 0.0

    def generate(self) -> None:
        import duckdb

        self.mr.generate()
        paths = {t: os.path.join(self.sf_dir, f"{t}.parquet") for ts in QUERIES.values() for t in ts}
        sizes = {t: os.path.getsize(p) for t, p in paths.items()}
        self.input_mb = sum(sizes[t] for ts in QUERIES.values() for t in ts) / 1e6 + self.mr.input_mb
        con = duckdb.connect()
        try:
            for t, p in paths.items():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            for q in QUERIES:
                cur = con.execute(REGISTRY[q].oracle)
                cols = [d[0] for d in cur.description]
                self.expected[q] = result_hash(cols, cur.fetchall())
        finally:
            con.close()

    def start(self, spark) -> None:
        self.spark = spark
        self.mr.start(spark)

    def run(self, tr) -> dict:
        """One pass: every query and the wordcount job once, in a seeded
        order. A step that raises is recorded as its exception and
        counted as failed."""
        out = {}
        steps = [*QUERIES, MR_STEP]
        with tr.span("query_mix.pass"):
            for q in self.order_rng.sample(steps, len(steps)):
                with tr.span(f"query.{q}"):
                    try:
                        if q == MR_STEP:
                            out[q] = self.mr.run(tr)
                            continue
                        with tr.span(f"plans.build.{q}"):
                            df = REGISTRY[q].build(self.spark, self.sf_dir)
                        with tr.span(f"plans.exec.{q}"):
                            out[q] = (df.columns, df.collect())
                    except Exception as exc:  # a failing step is a counted failure, not a crash
                        out[q] = exc
        return out

    def check(self, results: dict) -> tuple[int, int]:
        failed = 0 if self.mr.ok(results.get(MR_STEP)) else 1
        for q in QUERIES:
            res = results.get(q)
            if not isinstance(res, tuple) or result_hash(*res) != self.expected[q]:
                failed += 1
        return self.checks_per_job, failed

    def corruptions(self, results: dict, _tr) -> dict[str, dict]:
        """A perturbed query row and a dropped word: each must be rejected."""
        cols, rows = results["q01_pricing_summary"]
        first = list(rows[0])
        first[cols.index("count_order")] += 1
        counts = dict(results[MR_STEP])
        counts.pop(next(iter(counts)))
        return {
            "perturbed query row": {**results, "q01_pricing_summary": (cols, [tuple(first), *rows[1:]])},
            "dropped word": {**results, MR_STEP: counts},
        }

    def layers(self, spans: list[dict], metrics: dict, job_s: float, cores: int) -> dict:
        root = next(s for s in spans if s["name"] == "query_mix.pass")
        stages, jobs = stages_under(spans, root, metrics)
        by_name = {s["name"]: s for s in spans}
        scans = [st for q in QUERIES for st in stages_under(spans, by_name[f"query.{q}"], metrics)[0]]
        out = {"catalog.scan_mb": sum_stages(scans)["input_mb"]}
        for q in QUERIES:
            for step in ("build", "exec"):
                sp = by_name.get(f"plans.{step}.{q}")
                out[f"plans.{step}_s.{q}"] = duration(sp) if sp else 0.0
        if "mapreduce.job" in by_name:
            out.update(self.mr.layers(spans, metrics))
        out.update(spark_layer(stages, jobs, job_s, cores))
        return out
