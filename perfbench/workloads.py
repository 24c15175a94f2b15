"""The benchmark's timed workloads and the output check every run must pass.

Each workload is ``extract_turns_fused`` over the seeded input into a noop
sink, with one ``ExtractConfig``. A run is one closed-loop job: the
benchmark submits the next only after the previous one has finished.
"""

from __future__ import annotations

import random
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import Observation, functions as F

from docling_translate_spark import golden
from docling_translate_spark.operators.extract import ExtractConfig, extract_turns_fused

# Several thousand turns, drawn with the run's seed, are compared
# byte-for-byte with the pure-Python golden extractor.
GOLDEN_SAMPLE = 2000
# Job groups: timed runs get TIMED_GROUP + run index, so the traced run can
# fold Spark's event log over exactly the timed jobs.
TIMED_GROUP = "perfbench.timed."
CHECK_GROUP = "perfbench.check"
OUTPUT_COLS = ["conv_id", "turn_idx", "extracted_text", "spans", "n_spans", "boilerplate_ratio"]


@dataclass
class Run:
    wall_s: float
    ok: bool
    digest: dict = field(default_factory=dict)


def observe_digest(df, obs: Observation, cols=OUTPUT_COLS):
    """Attach an order-insensitive digest of the output rows over ``cols``,
    computed in the same job. Each 64-bit row hash is summed as two
    unsigned 32-bit halves, so the sums cannot overflow under ANSI mode."""
    h = F.xxhash64(*cols)
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))).alias("lo"),
        F.sum(F.shiftrightunsigned(h, 32)).alias("hi"),
    )


def _golden_row(text, tool, cfg: ExtractConfig) -> tuple:
    g = golden.extract_turn(text, tool, engine=cfg.engine, sentence_split=cfg.sentence_split)
    return (g["extracted_text"], [tuple(s) for s in g["spans"]], g["n_spans"], g["boilerplate_ratio"])


@dataclass(frozen=True)
class Workload:
    name: str
    n_turns: int
    config: ExtractConfig

    def job(self, spark, *paths: str):
        return extract_turns_fused(spark.read.parquet(*paths), self.config)

    def _noop_run(self, spark, paths: list, n_turns: int) -> Run:
        obs = Observation()
        df = observe_digest(self.job(spark, *paths), obs)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        got = obs.get
        return Run(wall, got["rows"] == n_turns, got)

    def run(self, spark, inp) -> Run:
        return self._noop_run(spark, [inp.path], inp.n_turns)

    def warm_up(self, spark, inp) -> Run:
        """The same job over the input's first files only."""
        return self._noop_run(spark, inp.warm_paths, inp.warm_turns)

    def reference(self, spark, inp, seed: int) -> tuple[bool, dict]:
        """Untimed check job: the full output's digest, plus a seeded sample
        of turns compared byte-for-byte with ``golden.extract_turn``."""
        rng = random.Random(seed)
        picks = sorted(rng.sample(range(inp.n_turns), min(GOLDEN_SAMPLE, inp.n_turns)))
        t = inp.table
        cids, tixs = t.column("conv_id").to_pylist(), t.column("turn_idx").to_pylist()
        texts, tools = t.column("text").to_pylist(), t.column("tool").to_pylist()
        # from Arrow: a list of tuples would start a second Python worker
        # daemon whose idle processes then count in peak_rss_mb
        keys = spark.createDataFrame(t.select(["conv_id", "turn_idx"]).take(picks))
        spark.sparkContext.setJobGroup(CHECK_GROUP, "golden sample check")
        obs = Observation()
        rows = (
            observe_digest(self.job(spark, inp.path), obs)
            .join(F.broadcast(keys), ["conv_id", "turn_idx"], "left_semi")
            .collect()
        )
        got = {
            (r["conv_id"], r["turn_idx"]): (
                r["extracted_text"],
                [tuple(s) for s in r["spans"]],
                r["n_spans"],
                r["boilerplate_ratio"],
            )
            for r in rows
        }
        mismatches = [
            (cids[i], tixs[i])
            for i in picks
            if got.get((cids[i], tixs[i])) != _golden_row(texts[i], tools[i], self.config)
        ]
        digest = obs.get
        ok = not mismatches and len(rows) == len(picks) and digest["rows"] == inp.n_turns
        return ok, {
            "digest": digest,
            "golden_sample": len(picks),
            "golden_mismatches": mismatches[:10],
        }


def closed_loop(wl: Workload, spark, inp, seconds: float, first: int, tracer=None) -> list[Run]:
    """Run ``wl`` back to back for ``seconds`` (at least twice),
    numbering the runs from ``first``. A run that raises is recorded as
    failed and the loop goes on; the caller compares each run's digest
    with the reference job's."""
    runs: list[Run] = []
    end = time.perf_counter() + seconds
    while len(runs) < 2 or time.perf_counter() < end:
        i = first + len(runs)
        spark.sparkContext.setJobGroup(f"{TIMED_GROUP}{i}", f"{wl.name} run {i}")
        span = tracer.span(wl.name, run_id=f"run-{i}") if tracer else nullcontext()
        try:
            with span:
                r = wl.run(spark, inp)
        except Exception:
            traceback.print_exc()
            r = Run(float("nan"), False)
        runs.append(r)
    return runs


# Input sizes keep one job at about 1.5 s on local[2] on a 4-core host, so a
# run's closed loop holds about ten timed jobs.
WORKLOADS = {
    w.name: w
    for w in (
        Workload("extract_fused", 60_000, ExtractConfig()),
        Workload(
            "extract_sentences", 40_000, ExtractConfig(engine="normalize", sentence_split=True)
        ),
    )
}
