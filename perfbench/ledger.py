"""The traced run: per-layer numbers for one workload's input.

Every layer is timed from the benchmark's own code, around calls into
that module (no spans inside the program). Each traced run measures the
whole ledger over its workload's input, so every per-layer metric is a
measured number on every workload; which end-to-end metric each one
should move, and where, is listed in ``perfbench/README.md``.
"""

from __future__ import annotations

import dataclasses
import json
import os
import shutil
import statistics
import time
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import Observation, functions as F

from docling_translate_spark.operators.extract import ExtractConfig, extract_turns_fused

from perfbench import inputs, sparkenv
from perfbench.workloads import CHECK_GROUP, TIMED_GROUP, observe_digest

# The fused kernel dedups and maps per Arrow batch of at most this many rows
# (spark.sql.execution.arrow.maxRecordsPerBatch in plans/session.py).
ARROW_BATCH_ROWS = 10_000
# The checkpoint job and the curation stages are fixed-cost dominated (many
# small jobs), so the ledger runs them over at most this many leading turns
# of the input to bound the traced run's length.
LEDGER_TURNS = 6_000
CHECKPOINT_GROUP = "perfbench.checkpoint"
# The CLI runs 16 commit units; a quarter as many keep the traced run within
# its time limit. Each unit costs 2-4 s on local[2] whatever the input size.
CKPT_UNITS = 4
CKPT_FAIL_AFTER = 2

# Every per-layer metric a traced run reports, with its unit.
UNITS = {
    "segmenters.busy_s": "s",
    "segmenters.spans": "count",
    "classify.busy_s": "s",
    "classify.formula_spans": "count",
    "classify.boilerplate_spans": "count",
    "sentences.busy_s": "s",
    "sentences.sentences": "count",
    "extract_map.busy_s": "s",
    "extract_map.texts_in": "count",
    "extract_map.unique_texts": "count",
    "extract_map.dedup_hit_ratio": "ratio",
    "operators.extract.scan_s": "s",
    "operators.extract.arrow_roundtrip_s": "s",
    "operators.extract.fused_local1_s": "s",
    "operators.extract.unattributed_s": "s",
    "sources.checkpoint.job_s": "s",
    "sources.checkpoint.resume_s": "s",
    "sources.checkpoint.unit_commit_s_p50": "s",
    "sources.checkpoint.unit_commit_s_p90": "s",
    "sources.checkpoint.jobs_per_unit": "count",
    "sources.checkpoint.scan_stages": "count",
    "sources.checkpoint.shuffle_write_bytes": "B",
    "sources.checkpoint.files_written": "count",
    "sources.checkpoint.bytes_written": "B",
    "operators.text_analysis.busy_s": "s",
    "operators.dedup.minhash_lsh_s": "s",
    "operators.dedup.lsh_pairs": "count",
    "operators.dedup.components_s": "s",
    "operators.dedup.components_jobs": "count",
    "pipeline.kept_turns": "count",
    "pipeline.exact_dropped": "count",
    "pipeline.near_dup_dropped": "count",
    "plans.session.build_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.task_skew": "ratio",
    "spark.output_bytes": "B",
    "trace.overhead_ratio": "ratio",
}


class Tracer:
    """In-memory spans (name, start, end, parent, run id), written out once
    at the end of the run."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, run_id: str | None = None):
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": run_id or self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)


def kernel_layers(inp, cfg: ExtractConfig, tracer: Tracer) -> tuple[dict, dict]:
    """Single-thread timings of the kernel's public functions over the whole
    input, one layer at a time, in the order the fused kernel calls them."""
    from docling_translate_spark.classify import (
        has_nul_byte,
        is_boilerplate_segment,
        is_formula,
    )
    from docling_translate_spark.extract_map import create_engine
    from docling_translate_spark.segmenters import segment_text
    from docling_translate_spark.sentences import split_sentences

    texts = inp.table.column("text").to_pylist()
    tools = inp.table.column("tool").to_pylist()

    with tracer.span("classify"):
        live = [
            i for i, t in enumerate(texts) if t is not None and t.strip() and not has_nul_byte(t)
        ]
    with tracer.span("segmenters"):
        segs = {i: segment_text(texts[i], tools[i] or None) for i in live}
    formula = boiler = 0
    contents: dict[int, list[str]] = {}
    with tracer.span("classify"):
        for i, turn in segs.items():
            keep = []
            for seg_text, _start, _end, tr, _st, _line in turn:
                if tr and is_formula(seg_text):
                    formula += 1
                elif tr and is_boilerplate_segment(seg_text):
                    boiler += 1
                elif tr and seg_text.strip():
                    keep.append(seg_text)
            contents[i] = keep
    with tracer.span("sentences"):
        sents = {i: [split_sentences(c) for c in cs] for i, cs in contents.items()}

    fn = create_engine(cfg.engine)
    texts_in = unique = 0
    ratios = []
    for lo in range(0, len(texts), ARROW_BATCH_ROWS):
        rows = [i for i in range(lo, min(lo + ARROW_BATCH_ROWS, len(texts))) if i in contents]
        if cfg.sentence_split:
            units = [s for i in rows for ss in sents[i] for s in ss]
        else:
            units = [c for i in rows for c in contents[i]]
        with tracer.span("extract_map"):
            uniq = dict.fromkeys(units)
            keys = pd.Series(list(uniq), dtype="object")
            mapped = fn(keys) if len(keys) else keys
            dict(zip(keys, mapped))
        texts_in += len(units)
        unique += len(uniq)
        if units:
            ratios.append(1 - len(uniq) / len(units))

    all_spans = [c for cs in contents.values() for c in cs]
    n_sents = sum(len(ss) for v in sents.values() for ss in v)
    metrics = {
        "segmenters.busy_s": tracer.duration("segmenters"),
        "segmenters.spans": sum(len(t) for t in segs.values()),
        "classify.busy_s": tracer.duration("classify"),
        "classify.formula_spans": formula,
        "classify.boilerplate_spans": boiler,
        "sentences.busy_s": tracer.duration("sentences"),
        "sentences.sentences": n_sents,
        "extract_map.busy_s": tracer.duration("extract_map"),
        "extract_map.texts_in": texts_in,
        "extract_map.unique_texts": unique,
        "extract_map.dedup_hit_ratio": 1 - unique / texts_in,
    }
    report = {
        "dedup_hit_ratio_base": {
            "texts_in": texts_in,
            "slice_rows": ARROW_BATCH_ROWS,
            "slices": len(ratios),
            "per_slice_median": statistics.median(ratios) if ratios else 0.0,
        },
        "span_unique_over_total": {
            "unique": len(set(all_spans)),
            "total": len(all_spans),
            "ratio": len(set(all_spans)) / len(all_spans),
        },
    }
    return metrics, report


def ledger_input(inp, work: str):
    """The input's first ``LEDGER_TURNS`` turns as a parquet directory of
    its own (the input itself when it is no longer)."""
    if inp.n_turns <= LEDGER_TURNS:
        return inp
    table = inp.table.slice(0, LEDGER_TURNS)
    path = os.path.join(work, "ledger-input")
    inputs.write_parquet(table, path)
    return dataclasses.replace(inp, path=path, table=table, n_turns=LEDGER_TURNS)


def _passthrough(batches):
    yield from batches


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def extract_parts(spark1, inp, cfg: ExtractConfig, tracer: Tracer) -> dict:
    """The fused job on one task slot, beside two control jobs over the same
    projection: the scan alone, and a pass-through ``mapInPandas`` (the
    Arrow round trip without the kernel). A fused job over the input's
    first files warms the session up first."""

    def slim():
        return spark1.read.parquet(inp.path).select("conv_id", "turn_idx", "text", "tool")

    with tracer.span("operators.extract.warm_up"):
        _noop(extract_turns_fused(spark1.read.parquet(*inp.warm_paths), cfg))
    with tracer.span("operators.extract.scan"):
        _noop(slim())
    with tracer.span("operators.extract.arrow_roundtrip"):
        _noop(slim().mapInPandas(_passthrough, slim().schema))
    with tracer.span("operators.extract.fused_local1"):
        _noop(extract_turns_fused(spark1.read.parquet(inp.path), cfg))
    return {
        f"operators.extract.{part}_s": tracer.duration(f"operators.extract.{part}")
        for part in ("scan", "arrow_roundtrip", "fused_local1")
    }


def checkpoint_layers(spark, inp, work: str, cfg: ExtractConfig, tracer: Tracer):
    """``sources.checkpoint.run_extraction`` as the CLI runs it, into fresh
    directories, in its own job group: it crashes after ``CKPT_FAIL_AFTER``
    units (``SimulatedFailure``), and a second call resumes it.

    Returns the layer metrics, a report, and whether the job's output
    passed: after the resume, output rows equal input turns with no
    duplicate ``(conv_id, turn_idx)``, and the lineage holds every unit
    once with ``turns_processed`` summing to the input turns.
    """
    from docling_translate_spark.sources.checkpoint import (
        SimulatedFailure,
        read_lineage,
        read_output,
        run_extraction,
    )

    base = os.path.join(work, "checkpoint")
    shutil.rmtree(base, ignore_errors=True)
    out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
    sc = spark.sparkContext
    sc.setJobGroup(CHECKPOINT_GROUP, "checkpoint job")
    started = time.time()
    with tracer.span("sources.checkpoint"):
        try:
            run_extraction(
                spark, spark.read.parquet(inp.path), out, ckpt, "bench",
                n_units=CKPT_UNITS, config=cfg, fail_after_units=CKPT_FAIL_AFTER,
            )
            crashed = False
        except SimulatedFailure:
            crashed = True
        with tracer.span("sources.checkpoint.resume"):
            run_extraction(
                spark, spark.read.parquet(inp.path), out, ckpt, "bench",
                n_units=CKPT_UNITS, config=cfg,
            )
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(CHECKPOINT_GROUP))

    sc.setJobGroup(CHECK_GROUP, "checkpoint output check")
    written = read_output(spark, out)
    rows = written.count()
    distinct = written.select("conv_id", "turn_idx").distinct().count()
    lineage = (
        read_lineage(spark, ckpt)
        .select("partition_id", "turns_processed", F.unix_micros("committed_ts").alias("us"))
        .collect()
    )
    units = {r["partition_id"] for r in lineage}
    processed = sum(r["turns_processed"] for r in lineage)
    ok = (
        crashed
        and rows == inp.n_turns
        and distinct == rows
        and len(lineage) == CKPT_UNITS
        and len(units) == CKPT_UNITS
        and processed == inp.n_turns
    )
    # gaps between consecutive unit commits, the first from the call's start
    prev, gaps = started * 1e6, []
    for us in sorted(r["us"] for r in lineage):
        gaps.append((us - prev) / 1e6)
        prev = us
    files = nbytes = 0
    for dirpath, _, names in os.walk(base):
        for n in names:
            files += 1
            nbytes += os.path.getsize(os.path.join(dirpath, n))
    shutil.rmtree(base, ignore_errors=True)
    metrics = {
        "sources.checkpoint.job_s": tracer.duration("sources.checkpoint"),
        "sources.checkpoint.resume_s": tracer.duration("sources.checkpoint.resume"),
        "sources.checkpoint.unit_commit_s_p50": statistics.median(gaps),
        "sources.checkpoint.unit_commit_s_p90": statistics.quantiles(
            gaps, n=10, method="inclusive"
        )[8],
        "sources.checkpoint.jobs_per_unit": n_jobs / CKPT_UNITS,
        "sources.checkpoint.files_written": files,
        "sources.checkpoint.bytes_written": nbytes,
    }
    report = {
        "input_turns": inp.n_turns,
        "units": CKPT_UNITS,
        "crashed_after_units": CKPT_FAIL_AFTER if crashed else None,
        "rows": rows,
        "distinct_keys": distinct,
        "lineage_units": len(units),
        "turns_processed": processed,
        "unit_commit_s": gaps,
    }
    return metrics, report, ok


def curation_layers(spark, inp, work: str, seed: int, tracer: Tracer):
    """Each stage of ``pipeline.curate_turns`` (default ``CurationConfig``)
    called on its own, on materialized inputs: extraction, the text
    analysis gates, exact dedup, MinHash LSH and connected components.
    ``inp`` is the ledger slice (see ``ledger_input``).

    The glue between stages copies ``curate_turns``'s, so every run checks
    the copy against the program: ``curate_turns`` itself runs once more
    over the same input, and its kept turns must equal the copy's. Its
    order-insensitive output digest must also equal the one an earlier
    run of the same seed recorded in the work directory.

    Returns the layer metrics, a report and whether both checks passed.
    """
    from docling_translate_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
    )
    from docling_translate_spark.operators.text_analysis import (
        fingerprint,
        lang_id,
        quality_features,
        token_counts,
    )
    from docling_translate_spark.pipeline import CurationConfig, curate_turns

    cfg = CurationConfig()
    sc = spark.sparkContext
    base = os.path.join(work, "curate")

    def stage(name: str, build):
        """Time ``build()`` (some operators run jobs while they build their
        plan) and the write that materializes its result; read it back."""
        path = os.path.join(base, name)
        sc.setJobGroup(f"perfbench.curate.{name}", name)
        with tracer.span(name):
            build().write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    docs = stage(
        "pipeline.extract",
        lambda: extract_turns_fused(spark.read.parquet(inp.path), cfg.extract)
        .filter(F.length("extracted_text") >= cfg.min_chars)
        .withColumn("text", F.col("extracted_text")),
    )
    feats = stage(
        "operators.text_analysis",
        lambda: fingerprint(token_counts(lang_id(quality_features(docs)))),
    )
    gated = feats.filter(F.col("quality_score") >= cfg.min_quality)
    winners = gated.groupBy("fingerprint").agg(
        F.min(F.struct("conv_id", "turn_idx")).alias("_w")
    ).select("fingerprint", F.col("_w.conv_id").alias("conv_id"), F.col("_w.turn_idx").alias("turn_idx"))
    exact = stage(
        "pipeline.exact_dedup",
        lambda: gated.join(winners, ["fingerprint", "conv_id", "turn_idx"], "left_semi").withColumn(
            "_nid", F.md5(F.concat_ws(":", F.col("conv_id"), F.col("turn_idx")))
        ),
    )
    pairs = stage(
        "operators.dedup.minhash_lsh",
        lambda: minhash_lsh_pairs(
            exact, text_col="text", id_col="_nid", threshold=cfg.near_dup_threshold
        ),
    )
    comp = stage(
        "operators.dedup.components", lambda: connected_components(pairs, "id_a", "id_b")
    )
    comp_jobs = len(sc.statusTracker().getJobIdsForGroup("perfbench.curate.operators.dedup.components"))

    sc.setJobGroup("perfbench.curate.counts", "counts")
    n_gated = gated.count()
    n_exact = exact.count()
    near = comp.filter(F.col("comp") != F.col("id")).select("id").distinct().count()
    kept = n_exact - near

    sc.setJobGroup(CHECK_GROUP, "curate_turns check")
    spark.catalog.clearCache()
    obs = Observation()
    with tracer.span("pipeline.curate_turns"):
        out = curate_turns(spark.read.parquet(inp.path), cfg)
        observe_digest(out, obs, out.columns).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    digest = obs.get
    record = os.path.join(work, "digests", f"curate-s{seed}-{inp.n_turns}.json")
    os.makedirs(os.path.dirname(record), exist_ok=True)
    if os.path.exists(record):
        with open(record) as f:
            repeats = json.load(f) == digest
    else:
        with open(record, "w") as f:
            json.dump(digest, f)
        repeats = True
    matches = digest["rows"] == kept

    metrics = {
        "operators.text_analysis.busy_s": tracer.duration("operators.text_analysis"),
        "operators.dedup.minhash_lsh_s": tracer.duration("operators.dedup.minhash_lsh"),
        "operators.dedup.lsh_pairs": pairs.count(),
        "operators.dedup.components_s": tracer.duration("operators.dedup.components"),
        "operators.dedup.components_jobs": comp_jobs,
        "pipeline.kept_turns": kept,
        "pipeline.exact_dropped": n_gated - n_exact,
        "pipeline.near_dup_dropped": near,
    }
    report = {
        "curate_input_turns": inp.n_turns,
        "gated_turns": n_gated,
        "curate_turns_s": tracer.duration("pipeline.curate_turns"),
        "curate_turns_digest": digest,
        "curate_turns_kept_matches_stages": matches,
        "curate_turns_digest_repeats_for_seed": repeats,
    }
    return metrics, report, matches and repeats


def spark_layers(event_logs: list[str], n_runs: int) -> dict:
    """Per-timed-run Spark figures folded from the traced sessions' event logs."""
    g = sparkenv.fold_event_log(event_logs, lambda name: name.startswith(TIMED_GROUP))
    return {
        "spark.jobs": g.jobs / n_runs,
        "spark.tasks": g.tasks / n_runs,
        "spark.executor_run_s": g.executor_run_s / n_runs,
        "spark.executor_cpu_s": g.executor_cpu_s / n_runs,
        "spark.gc_s": g.gc_s / n_runs,
        "spark.shuffle_write_bytes": g.shuffle_write_bytes / n_runs,
        "spark.spill_bytes": g.spill_bytes / n_runs,
        "spark.task_skew": g.task_skew,
        "spark.output_bytes": g.output_bytes / n_runs,
    }
