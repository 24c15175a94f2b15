"""Seeded transcript inputs, written to parquet before any timing starts.

Rows come from the package's own generator (``synth.gen_turn`` and
``synth.conv_length``, ``base_turns=16``: every 37th conversation is
100x longer) over a conversation-id namespace derived from the seed, so a
different seed gives different conversations with the same length skew.
Generation stops at an exact turn count (the last conversation is cut
short) so that every seed gives a workload the same amount of work.

The program under test only ever sees the parquet directory.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.ipc as ipc
import pyarrow.parquet as pq

from docling_translate_spark import synth

BASE_TURNS = 16
# Eight files of equal row counts, so no file is longer for holding hot
# conversations. Spark packs small files into about one split per task
# slot.
N_FILES = 8
# The warm-up reads the first two files: two splits, one per task slot of
# local[2], so that it starts both Python workers. Over one file the first
# timed job of each session still paid for the second worker's start.
WARM_FILES = 2
# The length skew of a seed's conversation-id namespace is measured over
# this many leading ids; the next seed's hot share and mean length must be
# within SKEW_TOLERANCE (relative) of this seed's. At this many ids the
# hot share's sampling error is under 3 %.
SKEW_IDS = 50_000
SKEW_TOLERANCE = 0.15
_SCHEMA = pa.schema(
    [
        pa.field("conv_id", pa.string(), nullable=False),
        pa.field("turn_idx", pa.int32(), nullable=False),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)


def conv_id(seed: int, i: int) -> str:
    return f"s{seed}-conv-{i:06d}"


def generate(seed: int, n_turns: int) -> pa.Table:
    """Exactly ``n_turns`` transcript rows for ``seed``."""
    cols: dict[str, list] = {f.name: [] for f in _SCHEMA}
    i = 0
    while len(cols["conv_id"]) < n_turns:
        cid = conv_id(seed, i)
        take = min(synth.conv_length(cid, BASE_TURNS), n_turns - len(cols["conv_id"]))
        for t in range(take):
            for name, v in zip(cols, synth.gen_turn(cid, t)):
                cols[name].append(v)
        i += 1
    cols["ts"] = [t.replace(tzinfo=dt.timezone.utc) for t in cols["ts"]]
    return pa.table(cols, schema=_SCHEMA)


def length_skew(seed: int) -> dict:
    """Hot-conversation share and mean conversation length over the first
    ``SKEW_IDS`` ids of ``seed``'s namespace."""
    lengths = [synth.conv_length(conv_id(seed, i), BASE_TURNS) for i in range(SKEW_IDS)]
    hot = sum(n == BASE_TURNS * 100 for n in lengths)
    return {"hot_share": hot / SKEW_IDS, "mean_length": sum(lengths) / SKEW_IDS}


def digest(table: pa.Table) -> str:
    """sha256 of the table's Arrow IPC stream: equal content, equal digest."""
    sink = pa.BufferOutputStream()
    with ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue()).hexdigest()


@dataclass
class Input:
    path: str
    # the first WARM_FILES of the N_FILES files, the warm-up's input
    warm_paths: list
    warm_turns: int
    table: pa.Table
    digest: str
    n_turns: int
    n_convs: int
    hot_convs: int
    parquet_bytes: int
    skew: dict
    checks: dict


def write_parquet(table: pa.Table, path: str) -> int:
    """Write ``table`` as ``N_FILES`` equal row slices; returns bytes on disk."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-table.num_rows // N_FILES)
    for j in range(N_FILES):
        pq.write_table(table.slice(j * step, step), os.path.join(path, f"part-{j:03d}.parquet"))
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path))


def prepare(work: str, workload: str, seed: int, n_turns: int) -> Input:
    """Generate, self-check and write the input of one run.

    Checks: regenerating the first conversations reproduces the table's
    prefix; the next seed's namespace has this seed's length skew (hot
    share and mean length within ``SKEW_TOLERANCE``); and the digest
    equals the one an earlier run of the same workload and seed recorded
    in the work directory.
    """
    table = generate(seed, n_turns)
    dig = digest(table)
    ids = set(table.column("conv_id").to_pylist())

    prefix = generate(seed, 500)
    same_seed = prefix.equals(table.slice(0, 500))
    skew, next_skew = length_skew(seed), length_skew(seed + 1)
    same_skew = all(
        abs(next_skew[k] - skew[k]) <= SKEW_TOLERANCE * skew[k] for k in skew
    )

    record = os.path.join(work, "inputs", f"{workload}-s{seed}.sha256")
    os.makedirs(os.path.dirname(record), exist_ok=True)
    if os.path.exists(record):
        with open(record) as f:
            repeatable = f.read().strip() == dig
    else:
        with open(record, "w") as f:
            f.write(dig)
        repeatable = True

    hot = sum(1 for cid in ids if synth.conv_length(cid, BASE_TURNS) == BASE_TURNS * 100)

    path = os.path.join(work, "inputs", f"{workload}-s{seed}.parquet")
    nbytes = write_parquet(table, path)
    warm = [os.path.join(path, f"part-{j:03d}.parquet") for j in range(WARM_FILES)]
    return Input(
        path=path,
        warm_paths=warm,
        warm_turns=sum(pq.read_metadata(p).num_rows for p in warm),
        table=table,
        digest=dig,
        n_turns=table.num_rows,
        n_convs=len(ids),
        hot_convs=hot,
        parquet_bytes=nbytes,
        skew={"seed": skew, "next_seed": next_skew},
        checks={
            "prefix_regenerates": same_seed,
            "next_seed_same_skew": same_skew,
            "digest_repeats_for_seed": repeatable,
        },
    )
