"""Paired perfbench runs: a base revision against the working tree.

    python tools/bench_pairs.py --base REV [--pairs 10] [--seed0 9001]
        [--scratch DIR]

Exports ``REV`` (``git archive``) and the working tree (tracked and
untracked, non-ignored files, as they are on disk) to two directories
under ``--scratch`` (default: a new temporary directory), both written
by one function, so the two copies differ only in file content (an
A/A run once read the worse side as the one whose files had other
modes and mtimes), then runs
``perfbench/run.py --trace 0`` in each, for every workload of
``BENCHMARK.json`` and its ``run_seconds``. Pair ``i`` of a workload runs
both sides on seed ``seed0 + i``; even pairs run the base first, odd
pairs the change, so neither side always gets the warmer host. Every
run's input, results and Spark files stay in its copy, so nothing is
written under the repository's ``perfbench/``.

For each end-to-end metric of ``BENCHMARK.json`` it prints the base and
change median and quartiles, and in how many pairs the change was
better; then whether every run was ``correct`` with 0 failed, and the
median peak RSS by command (the process tree's largest sample). All runs
are also written to ``pairs.json`` in the scratch directory.

Each run is its own process group, which is killed if the run outlives
``TIMEOUT_S`` or this script is interrupted, so no JVM or Python worker
outlives the script.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import signal
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
# a run that takes longer than this is killed and counts as failed
TIMEOUT_S = 900


def write_file(dest: Path, rel: str, data: bytes) -> None:
    """Both copies are written here, so their files differ in content
    only: default mode, fresh mtime, whichever side they came from."""
    (dest / rel).parent.mkdir(parents=True, exist_ok=True)
    (dest / rel).write_bytes(data)


def export_base(rev: str, dest: Path) -> None:
    archive = subprocess.run(
        ["git", "archive", rev], cwd=ROOT, check=True, capture_output=True
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
        for member in tar:
            if member.isfile():
                write_file(dest, member.name, tar.extractfile(member).read())


def export_worktree(dest: Path) -> None:
    listed = subprocess.run(
        ["git", "ls-files", "-z", "--cached", "--others", "--exclude-standard"],
        cwd=ROOT,
        check=True,
        capture_output=True,
    ).stdout
    for rel in filter(None, listed.decode().split("\0")):
        src = ROOT / rel
        if src.is_file():  # a tracked file deleted on disk is not exported
            write_file(dest, rel, src.read_bytes())


def run_one(tree: Path, workload: str, seed: int, seconds: float, log) -> dict:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.Popen(
        cmd, cwd=tree, stdout=subprocess.PIPE, stderr=log, text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = ""
    finally:
        # the run's JVM and Python workers share its process group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    lines = out.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        return {"returncode": proc.returncode, "correct": False, "failed": None, "metrics": {}}
    result, report = json.loads(lines[-1]), json.loads(lines[-2])
    return {
        "returncode": proc.returncode,
        "correct": result["correct"],
        "failed": result["failed"],
        "metrics": {k: v["value"] for k, v in result["metrics"].items()},
        "peak_rss_mb_by_command": report.get("peak_rss_mb_by_command", {}),
    }


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(workload: str, pairs: list[dict], end_to_end: list[dict]) -> None:
    print(f"\n== {workload}: {len(pairs)} pairs")
    for m in end_to_end:
        name, higher = m["name"], m["better"] == "higher"
        got = [p for p in pairs if name in p["base"]["metrics"] and name in p["change"]["metrics"]]
        if not got:
            print(f"  {name}: no complete pair")
            continue
        base = [p["base"]["metrics"][name] for p in got]
        change = [p["change"]["metrics"][name] for p in got]
        wins = sum((c > b) if higher else (c < b) for b, c in zip(base, change))
        (b1, b2, b3), (c1, c2, c3) = quartiles(base), quartiles(change)
        print(
            f"  {name} ({m['unit']}, {m['better']} is better): "
            f"base {b2:.6g} [{b1:.6g}, {b3:.6g}] IQR {b3 - b1:.4g} | "
            f"change {c2:.6g} [{c1:.6g}, {c3:.6g}] | "
            f"change better {wins}/{len(got)} | ratio {c2 / b2:.4f}"
        )
    for side in ("base", "change"):
        runs = [p[side] for p in pairs]
        ok = sum(r["correct"] and r["failed"] == 0 for r in runs)
        by_cmd: dict[str, list[list[int]]] = {}
        for r in runs:
            for cmd, mbs in r.get("peak_rss_mb_by_command", {}).items():
                by_cmd.setdefault(cmd, []).append(sorted(mbs, reverse=True))
        rss = {
            cmd: [statistics.median(col) for col in zip(*lists)]
            for cmd, lists in by_cmd.items()
        }
        print(f"  {side}: {ok}/{len(runs)} runs correct with 0 failed; median peak RSS MB by command {rss}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="tools/bench_pairs.py")
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=9001)
    ap.add_argument("--scratch", help="directory for both copies (default: a new temp dir)")
    args = ap.parse_args(argv)

    scratch = Path(args.scratch or tempfile.mkdtemp(prefix="bench-pairs-")).resolve()
    trees = {"base": scratch / "base", "change": scratch / "change"}
    if any(t.exists() for t in trees.values()):
        ap.error(f"{scratch} already holds a base/ or change/ copy")
    for tree in trees.values():
        tree.mkdir(parents=True)
    export_base(args.base, trees["base"])
    export_worktree(trees["change"])
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    end_to_end, seconds = bench["end_to_end"], bench["run_seconds"]
    print(f"bench_pairs: base {args.base} vs working tree, copies under {scratch}", flush=True)

    results: dict[str, list[dict]] = {}
    with open(scratch / "runs.log", "a") as log:
        for workload in (w["name"] for w in bench["workloads"]):
            pairs = results.setdefault(workload, [])
            for i in range(args.pairs):
                seed = args.seed0 + i
                order = ("base", "change") if i % 2 == 0 else ("change", "base")
                pair = {"seed": seed, "first": order[0]}
                for side in order:
                    log.write(f"--- {workload} seed {seed} {side}\n")
                    log.flush()
                    pair[side] = run_one(trees[side], workload, seed, seconds, log)
                pairs.append(pair)
                brief = {s: pair[s]["metrics"] for s in ("base", "change")}
                print(f"{workload} pair {i + 1}/{args.pairs} seed {seed}: {brief}", flush=True)
                (scratch / "pairs.json").write_text(json.dumps(results, indent=1))
    for workload, pairs in results.items():
        summarize(workload, pairs, end_to_end)
    return 0


if __name__ == "__main__":
    sys.exit(main())
