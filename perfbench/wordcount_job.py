"""The reference wordcount job through ``MapReduceJob``, one step of
every ``query_mix`` pass.

map emits ``(word, 1)`` per word of a line, the combiner and the reducer
sum, 8 reducers. The corpus is drawn once per run from a Zipf
distribution (s = 1.1) over a seeded vocabulary and written as a text
file in the run's work directory; the expected counts come from the
generator itself.
"""

from __future__ import annotations

import os

import numpy as np
from harness import stages_under

from pandamapreduce_spark.engine import MapReduceJob

WORDS = 2_000_000
VOCAB = 200_000
ZIPF_S = 1.1
WORDS_PER_LINE = 100
PARTITIONS = 8
REDUCERS = 8

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def make_vocab(rng, size: int) -> list[str]:
    """Distinct words: a random 2-6 letter stem followed by the word's
    index in decimal, so words differ in length and never collide."""
    stems = rng.integers(0, 26, size=(size, 6))
    lens = rng.integers(2, 7, size=size)
    return ["".join(_LETTERS[stems[i, : lens[i]]]) + str(i) for i in range(size)]


def _sum(_key, values):
    return sum(values)


class WordcountJob:
    def __init__(self, work: str, seed: int, scale: float = 1.0):
        self.seed = seed
        self.words = max(WORDS_PER_LINE * PARTITIONS, int(WORDS * scale))
        self.vocab = max(100, int(VOCAB * scale))
        self.path = os.path.join(work, "corpus.txt")
        self.expected: dict[str, int] = {}
        self.input_mb = 0.0

    def generate(self) -> None:
        rng = np.random.default_rng(self.seed)
        vocab = make_vocab(rng, self.vocab)
        p = np.arange(1, self.vocab + 1, dtype=np.float64) ** -ZIPF_S
        ids = rng.choice(self.vocab, size=self.words, p=p / p.sum())
        counts = np.bincount(ids, minlength=self.vocab)
        self.expected = {vocab[i]: int(c) for i, c in enumerate(counts) if c}
        words = np.array(vocab, dtype=object)[ids]
        with open(self.path, "w") as f:
            for start in range(0, self.words, WORDS_PER_LINE):
                f.write(" ".join(words[start : start + WORDS_PER_LINE]))
                f.write("\n")
        self.input_mb = os.path.getsize(self.path) / 1e6

    def start(self, spark) -> None:
        self.spark = spark

    def _callbacks(self, tr):
        if not tr.enabled:
            return (lambda _k, line: ((w, 1) for w in line.split())), _sum, _sum
        sc = self.spark.sparkContext
        self.acc = {k: sc.accumulator(0) for k in ("map_pairs", "combine_pairs", "reduce_keys")}
        map_acc, comb_acc, red_acc = (self.acc[k] for k in ("map_pairs", "combine_pairs", "reduce_keys"))

        def map_f(_k, line):
            ws = line.split()
            map_acc.add(len(ws))
            return ((w, 1) for w in ws)

        def combine_f(_k, values):
            comb_acc.add(1)
            return sum(values)

        def reduce_f(_k, values):
            red_acc.add(1)
            return sum(values)

        return map_f, combine_f, reduce_f

    def run(self, tr) -> dict:
        map_f, combine_f, reduce_f = self._callbacks(tr)
        lines = self.spark.sparkContext.textFile(self.path, PARTITIONS).map(lambda line: (None, line))
        with tr.span("mapreduce.job"):
            job = (
                MapReduceJob(self.spark)
                .set_map(map_f)
                .set_combiner(combine_f)
                .set_reduce(reduce_f)
                .set_num_reducers(REDUCERS)
                .add_input(lines)
            )
            with tr.span("mapreduce.execute_collect"):
                return dict(job.execute().collect())

    def ok(self, counts) -> bool:
        """Every (word, count) equals the generator's own count."""
        return counts == self.expected

    def layers(self, spans: list[dict], metrics: dict) -> dict:
        root = next(s for s in spans if s["name"] == "mapreduce.job")
        stages, _ = stages_under(spans, root, metrics)
        map_stages = [s for s in stages if s["shuffle_write_mb"] > 0]
        reduce_stages = [s for s in stages if s["shuffle_write_mb"] == 0]
        pairs = {k: a.value for k, a in self.acc.items()}
        return {
            "mapreduce.map_pairs": pairs["map_pairs"],
            "mapreduce.combine_pairs": pairs["combine_pairs"],
            "mapreduce.combine_ratio": pairs["combine_pairs"] / pairs["map_pairs"] if pairs["map_pairs"] else 0.0,
            "mapreduce.reduce_keys": pairs["reduce_keys"],
            "mapreduce.map_stage_s": sum(s["wall_s"] for s in map_stages),
            "mapreduce.reduce_stage_s": sum(s["wall_s"] for s in reduce_stages),
            "mapreduce.shuffle_write_mb": sum(s["shuffle_write_mb"] for s in map_stages),
        }
