"""Deterministic synthetic transcript generation.

The driver provides TPC-H-ish tables but no transcript-shaped table, and
the north rule forbids external data — so tests and benchmarks synthesize
the ``input_hint`` table ``(conv_id, turn_idx, role, text, tool, ts)``
deterministically. Every field is a pure function of
``(conv_id, turn_idx)`` via crc32, so the same rows come out on any
machine, any partitioning, any parallelism level.

The content mix follows FIXTURES.md §1: plaintext prose, markdown with
fenced code, python / c-style / shell sources, config blobs,
boilerplate-laden prose, LaTeX formulas, table-ish blocks, cross-turn
duplicate sentences, and empty / whitespace / NUL-containing payloads.
Conversation lengths are skewed (a few hot conversations are ~100× longer)
to exercise salting + AQE.
"""

from __future__ import annotations

import datetime as _dt
import zlib
from typing import List, Tuple

_EPOCH = _dt.datetime(2024, 1, 1)

_ROLES = ("user", "assistant", "tool", "system")

_WORDS = (
    "spark shuffle partition executor arrow batch column vector join scan "
    "filter window aggregate stream table row schema plan codegen broadcast"
).split()

_DUP_SENTENCES = (
    "This sentence repeats across many turns.",
    "Deduplication saves the expensive map stage.",
    "The quick brown fox jumps over the lazy dog.",
)


def _h(conv_id: str, turn_idx: int, salt: int = 0) -> int:
    """Stable 32-bit hash of (conv_id, turn_idx, salt)."""
    return zlib.crc32(f"{conv_id}|{turn_idx}|{salt}".encode())


def _sentence(h: int, n: int = 8) -> str:
    ws = [_WORDS[(h >> (i * 3)) % len(_WORDS)] for i in range(n)]
    return (" ".join(ws)).capitalize() + "."


def _prose(cid: str, t: int) -> str:
    paras = []
    for p in range(2 + _h(cid, t, 1) % 3):
        sents = [_sentence(_h(cid, t, 10 + p * 7 + s)) for s in range(2)]
        if _h(cid, t, 20 + p) % 3 == 0:
            sents.append(_DUP_SENTENCES[_h(cid, t, 21 + p) % len(_DUP_SENTENCES)])
        paras.append(" ".join(sents))
    return "\n\n".join(paras)


def _markdown(cid: str, t: int) -> str:
    fence = "```" if _h(cid, t, 2) % 2 == 0 else "~~~"
    return (
        f"# Heading {_h(cid, t, 3) % 100}\n\n"
        f"{_sentence(_h(cid, t, 4))} See `inline_code` here.\n\n"
        f"{fence}python\nx = {_h(cid, t, 5) % 997}\nprint(x)\n{fence}\n\n"
        f"{_sentence(_h(cid, t, 6))}"
    )


def _python_src(cid: str, t: int) -> str:
    return (
        f'"""Module doc line one.\nSecond doc line {_h(cid, t, 7) % 50}.\n"""\n'
        f"import os\n\n"
        f"# {_sentence(_h(cid, t, 8), 5)}\n"
        f"def f_{_h(cid, t, 9) % 100}():\n    return {_h(cid, t, 11) % 13}\n"
    )


def _c_src(cid: str, t: int) -> str:
    return (
        f"// {_sentence(_h(cid, t, 12), 5)}\n"
        f"int main() {{\n"
        f"  /* block comment\n     line {_h(cid, t, 13) % 9} */\n"
        f"  return {_h(cid, t, 14) % 7};\n}}\n"
    )


def _shell_src(cid: str, t: int) -> str:
    return (
        "#!/bin/bash\n"
        f"# {_sentence(_h(cid, t, 15), 5)}\n"
        f"echo {_h(cid, t, 16) % 100}\n"
        f"# trailing note {_h(cid, t, 17) % 10}\n"
    )


def _config_blob(cid: str, t: int) -> str:
    return '{"retries": %d, "mode": "fast", "note": "%s"}' % (
        _h(cid, t, 18) % 5,
        _sentence(_h(cid, t, 19), 4),
    )


def _boilerplate_prose(cid: str, t: int) -> str:
    n = _h(cid, t, 22) % 40 + 1
    return (
        f"Page {n} of 40\n"
        f"{_sentence(_h(cid, t, 23))}\n\n"
        f"{_sentence(_h(cid, t, 24))}\n"
        "---\n"
        "© 2024 ExampleCorp\n\n"
        f"{n}"
    )


def _formula(cid: str, t: int) -> str:
    return (
        f"P_{{{_h(cid, t, 25) % 9}}} &= \\frac{{e^{{x_i}}}}"
        f"{{\\sum_j e^{{x_j}}}}"
    )


def _table_block(cid: str, t: int) -> str:
    rows = [
        "| name | value |",
        "|---|---|",
    ]
    for r in range(2):
        rows.append(f"| row{r} | {_h(cid, t, 26 + r) % 1000} |")
    return "\n".join(rows)


def _degenerate(cid: str, t: int) -> str:
    k = _h(cid, t, 27) % 3
    if k == 0:
        return ""
    if k == 1:
        return "   \n  \n"
    return "binary\x00payload"


# variant id → (builder, tool hint)
_VARIANTS: List[Tuple] = [
    (_prose, None),
    (_markdown, None),
    (_python_src, "python"),
    (_c_src, "cpp"),
    (_shell_src, "bash"),
    (_config_blob, "json"),
    (_boilerplate_prose, None),
    (_formula, None),
    (_table_block, None),
    (_prose, None),  # weight prose higher
    (_degenerate, None),
    (_prose, None),
]


def gen_turn(conv_id: str, turn_idx: int) -> Tuple[str, int, str, str, str, _dt.datetime]:
    """One deterministic transcript row."""
    builder, tool = _VARIANTS[_h(conv_id, turn_idx) % len(_VARIANTS)]
    text = builder(conv_id, turn_idx)
    role = _ROLES[_h(conv_id, turn_idx, 30) % len(_ROLES)]
    ts = _EPOCH + _dt.timedelta(
        hours=zlib.crc32(conv_id.encode()) % 8760, seconds=37 * turn_idx
    )
    return (conv_id, turn_idx, role, text, tool or "", ts)


def conv_length(conv_id: str, base_turns: int) -> int:
    """Skewed length: every 37th conversation is ~100× longer (hot key)."""
    h = zlib.crc32(conv_id.encode())
    if h % 37 == 0:
        return base_turns * 100
    return base_turns + h % base_turns


def conv_ids(n_convs: int) -> List[str]:
    return [f"conv-{i:06d}" for i in range(n_convs)]


def gen_rows(n_convs: int, base_turns: int = 8) -> List[Tuple]:
    """Driver-side generation for small pytest fixtures."""
    rows: List[Tuple] = []
    for cid in conv_ids(n_convs):
        for t in range(conv_length(cid, base_turns)):
            rows.append(gen_turn(cid, t))
    return rows

