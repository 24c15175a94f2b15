"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's input from the
seed, sets up Spark, runs the workload closed-loop for ``--seconds`` and
checks every run's output. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A full report (host record, input, per-run figures, checks)
is printed on the line before and written under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# Set-ups (sessions) per call of rounds(); setup_s is their median. The
# first set-up of a run also launches the JVM; the others stop the session
# and build a new one on it. The timed loop is split evenly across them.
SETUPS = 3


class Sessions:
    """The process's current Spark session; opening one stops the last."""

    def __init__(self, sparkenv):
        self._env = sparkenv
        self.current = None
        self.build_s: list[float] = []

    def open(self, **kw):
        if self.current is not None:
            self.current.stop()
        t0 = time.perf_counter()
        self.current = self._env.build(WORK, **kw)
        self.build_s.append(time.perf_counter() - t0)
        return self.current

    def close(self):
        self._env.shutdown(self.current)
        self.current = None


def _throughput(inp, runs) -> float:
    walls = [r.wall_s for r in runs if not math.isnan(r.wall_s)]
    if not walls:
        raise RuntimeError("no run of the workload completed")
    return inp.n_turns / statistics.median(walls)


@dataclass
class Rounds:
    """What one call of ``rounds`` measured and checked."""

    setups: list = field(default_factory=list)
    warm: list = field(default_factory=list)
    runs: list = field(default_factory=list)
    wall_s_by_session: list = field(default_factory=list)
    app_ids: list = field(default_factory=list)
    # per round: peak RSS of the process tree, and the first round's
    # peak sample broken down by command
    peak_rss: list = field(default_factory=list)
    peak_rss_breakdown: dict = field(default_factory=dict)
    ref: dict | None = None
    ok: bool = True


def rounds(wl, inp, seed, seconds, sessions, ref=None, event_log=None, tracer=None) -> Rounds:
    """SETUPS rounds of: set up (session build + warm-up), then an equal
    share of ``seconds`` of the timed closed loop on that session. Each
    session has its own Python workers, and on the host this was tuned on
    a run's speed depended on which set of workers it got; three per run
    steady the median.

    Without ``ref`` the reference check runs once, after the last round,
    so that it adds nothing to any round's times or RSS peak (the first
    round's peak is ``peak_rss_mb``). A run passes when its output digest
    equals the reference job's. The last session is left open."""
    from perfbench import sparkenv
    from perfbench.workloads import closed_loop

    span = tracer.span if tracer else lambda name: nullcontext()
    out = Rounds(ref=ref)
    for _ in range(SETUPS):
        with sparkenv.RssSampler() as rss:
            t0 = time.perf_counter()
            with span("plans.session.build"):
                spark = sessions.open(event_log=event_log)
            spark.sparkContext.setJobGroup("perfbench.warm_up", "warm-up")
            with span("warm_up"):
                out.warm.append(wl.warm_up(spark, inp))
            out.setups.append(time.perf_counter() - t0)
            out.app_ids.append(spark.sparkContext.applicationId)
            seg = closed_loop(wl, spark, inp, seconds / SETUPS, len(out.runs), tracer)
        out.wall_s_by_session.append([r.wall_s for r in seg])
        out.runs += seg
        out.peak_rss.append(rss.peak)
        out.peak_rss_breakdown = out.peak_rss_breakdown or rss.peak_breakdown
    if out.ref is None:
        out.ok, out.ref = wl.reference(spark, inp, seed)
    for r in out.runs:
        r.ok = r.ok and r.digest == out.ref["digest"]
    out.ok = out.ok and all(w.ok for w in out.warm)
    return out


def untraced(wl, inp, seed, seconds, sessions):
    from perfbench import sparkenv

    r = rounds(wl, inp, seed, seconds, sessions)
    host = sparkenv.host_record(sessions.current)
    sessions.close()

    metrics = {
        "turns_per_s": (_throughput(inp, r.runs), "turns/s"),
        "setup_s": (statistics.median(r.setups), "s"),
        "peak_rss_mb": (r.peak_rss[0] / 2**20, "MB"),
    }
    report = {
        "host": host,
        "setup_s_samples": r.setups,
        "peak_rss_mb_by_round": [b / 2**20 for b in r.peak_rss],
        "peak_rss_mb_by_command": r.peak_rss_breakdown,
        "run_wall_s_by_session": r.wall_s_by_session,
        "checks": {"reference_and_warm_up": r.ok, "reference_detail": r.ref},
    }
    return metrics, report, r.runs, r.ok


def traced(wl, inp, seed, seconds, sessions, tracer):
    from perfbench import ledger, sparkenv

    # the untraced rounds again, the base of the overhead ratio, then the
    # traced ones; each gets half of the timed loop so that the whole
    # ledger fits in one run's time limit
    plain = rounds(wl, inp, seed, seconds / 2, sessions)
    host = sparkenv.host_record(sessions.current)
    event_dir = os.path.join(WORK, "eventlog")
    tr = rounds(wl, inp, seed, seconds / 2, sessions, plain.ref, event_dir, tracer)
    spark = sessions.current

    small = ledger.ledger_input(inp, WORK)
    layers, ck_report, ck_ok = ledger.checkpoint_layers(spark, small, WORK, wl.config, tracer)
    cur, cur_report, cur_ok = ledger.curation_layers(spark, small, WORK, seed, tracer)

    with tracer.span("plans.session.build"):
        spark1 = sessions.open(master="local[1]")  # stops the traced session
    event_logs = [os.path.join(event_dir, app) for app in tr.app_ids]
    layers.update(ledger.spark_layers(event_logs, len(tr.runs)))
    ck_spark = sparkenv.fold_event_log(event_logs, lambda g: g == ledger.CHECKPOINT_GROUP)
    layers["sources.checkpoint.scan_stages"] = ck_spark.scan_stages
    layers["sources.checkpoint.shuffle_write_bytes"] = ck_spark.shuffle_write_bytes
    layers.update(ledger.extract_parts(spark1, inp, wl.config, tracer))
    sessions.close()

    kern, kern_report = ledger.kernel_layers(inp, wl.config, tracer)
    layers.update(kern)
    layers.update(cur)
    kernel_busy = kern["segmenters.busy_s"] + kern["classify.busy_s"] + kern["extract_map.busy_s"]
    if wl.config.sentence_split:
        kernel_busy += kern["sentences.busy_s"]
    layers["operators.extract.unattributed_s"] = (
        layers["operators.extract.fused_local1_s"]
        - layers["operators.extract.scan_s"]
        - layers["operators.extract.arrow_roundtrip_s"]
        - kernel_busy
    )
    layers["plans.session.build_s"] = statistics.median(sessions.build_s)
    layers["trace.overhead_ratio"] = _throughput(inp, tr.runs) / _throughput(inp, plain.runs)

    metrics = {k: (layers[k], unit) for k, unit in ledger.UNITS.items()}
    report = {
        "host": host,
        "untraced_run_wall_s_by_session": plain.wall_s_by_session,
        "traced_run_wall_s_by_session": tr.wall_s_by_session,
        "kernel_busy_s": kernel_busy,
        "input_layers": kern_report,
        "checkpoint": ck_report,
        "curation": cur_report,
        "checks": {
            "reference_and_warm_up": plain.ok and tr.ok,
            "checkpoint": ck_ok,
            "curation": cur_ok,
            "reference_detail": plain.ref,
        },
        "event_logs": event_logs,
    }
    return metrics, report, plain.runs + tr.runs, plain.ok and tr.ok and ck_ok and cur_ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "docling_translate_spark", "__init__.py")):
        print(
            f"perfbench: package docling_translate_spark not found under {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import inputs, sparkenv

    sparkenv.configure(ROOT, WORK)
    from perfbench.ledger import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    load_before = os.getloadavg()
    ticks_before = sparkenv.cpu_ticks()
    t0 = time.perf_counter()
    inp = inputs.prepare(WORK, wl.name, args.seed, wl.n_turns)
    generate_s = time.perf_counter() - t0
    sessions = Sessions(sparkenv)
    tag = f"{wl.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    tracer = Tracer(tag)
    try:
        if args.trace:
            metrics, report, runs, ok = traced(wl, inp, args.seed, args.seconds, sessions, tracer)
        else:
            metrics, report, runs, ok = untraced(wl, inp, args.seed, args.seconds, sessions)
    finally:
        sessions.close()
        if args.trace:
            tracer.write(os.path.join(WORK, "traces", f"{tag}.json"))

    ok = ok and all(inp.checks.values())
    # a failed reference or input check leaves no run known to be good
    failed = sum(not r.ok for r in runs) if ok else len(runs)
    report.update(
        {
            "workload": wl.name,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "load_avg_before": load_before,
            "load_avg_after": os.getloadavg(),
            "cpu_steal_share": sparkenv.steal_share(ticks_before, sparkenv.cpu_ticks()),
            "input": {
                "turns": inp.n_turns,
                "conversations": inp.n_convs,
                "hot_conversations": inp.hot_convs,
                "parquet_bytes": inp.parquet_bytes,
                "length_skew": inp.skew,
                "generate_s": generate_s,
                "digest": inp.digest,
                "checks": inp.checks,
            },
            "failed_frac": failed / len(runs),
            "metrics": {k: v for k, (v, _) in metrics.items()},
        }
    )
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    summary = " ".join(f"{k}={v:.6g}{u}" for k, (v, u) in metrics.items())
    print(f"perfbench {wl.name} seed={args.seed} trace={args.trace}: failed_frac={failed / len(runs):.4g} {summary}")
    print(json.dumps(report, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(runs),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
