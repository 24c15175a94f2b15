"""The map engines of extract_map.py, without Spark."""

import json
import random
import re
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pytest

from docling_translate_spark import extract_map
from docling_translate_spark.extract_map import ENGINES, create_engine

# every code point str.isspace() accepts, the C0 controls, and a few others
_SPACES = [chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace()]
_C0 = [chr(c) for c in range(0x20)]
_ALPHABET = _SPACES + _C0 + list("ab.Z\x7f\x85é€") + ["\U0001f600"]


def _regex_normalize(texts: pd.Series) -> pd.Series:
    """The engine's earlier formulation, kept as the reference: strip C0
    controls, collapse ``\\s+`` runs to one space, trim."""
    s = texts.fillna("")
    s = s.str.replace(re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]"), "", regex=True)
    s = s.str.replace(re.compile(r"\s+"), " ", regex=True)
    return s.str.strip()


def test_normalize_equals_regex_formulation():
    assert len(_SPACES) == 29 and "　" in _SPACES and "\x1c" in _SPACES
    rng = random.Random(7)
    texts = [None, ""] + _SPACES + _C0
    texts += [
        "".join(rng.choice(_ALPHABET) for _ in range(rng.randrange(16)))
        for _ in range(20_000)
    ]
    got = create_engine("normalize")(texts)
    want = _regex_normalize(pd.Series(texts, dtype=object))
    assert got == want.tolist()
    assert got[0] == ""  # None


class _CountingSub:
    """``_CTRL_RE`` with a count of the reads of its ``sub``: the batches
    that took the per-text strip."""

    def __init__(self, pattern):
        self.pattern = pattern
        self.strips = 0

    @property
    def sub(self):
        self.strips += 1
        return self.pattern.sub


def test_normalize_batch_check_equals_per_text_strip(monkeypatch):
    """The one batch-wide check picks the same output as stripping every
    text on its own: batches with and without ``\\x0b`` and
    ``\\x1c``-``\\x1f`` (whitespace to ``str.split`` and control
    characters to the strip), with and without a missing text, and the
    empty batch. The UTF-8 byte scan sends a batch to the strip exactly
    when ``_CTRL_RE`` matches the joined batch: batches whose only
    non-printables are ``\\n``, ``\\t`` or ``\\r``, or that hold U+00A0,
    U+2028, U+200B, a lone surrogate or an emoji stay clean; each C0
    control does not."""
    ctrl = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")

    def per_text(texts):
        return [" ".join(ctrl.sub("", t).split()) if isinstance(t, str) else "" for t in texts]

    # every non-control character of _ALPHABET (U+0085, U+00A0, U+3000,
    # U+007F, U+1F600 ... among them)
    plain = [c for c in _ALPHABET if not ctrl.match(c)]
    specials = (
        ["\x0b", "\x1c", "\x1d", "\x1e", "\x1f", None]
        + ["\n", "\t", "\r", "\xa0", "\u2028", "\u200b", "\ud800", "\U0001f600"]
        + _C0
    )
    counting = _CountingSub(extract_map._CTRL_RE)
    monkeypatch.setattr(extract_map, "_CTRL_RE", counting)
    normalize = create_engine("normalize")
    rng = random.Random(11)
    assert normalize([]) == []
    n_dirty = 0
    for i in range(6_000):
        batch = [
            "".join(rng.choice(plain) for _ in range(rng.randrange(12)))
            for _ in range(rng.randrange(1, 20))
        ]
        if i % 2:
            s = rng.choice(specials)
            j = rng.randrange(len(batch))
            batch[j] = s if s is None else batch[j][:3] + s + batch[j][3:]
        assert normalize(batch) == per_text(batch), batch
        n_dirty += None in batch or ctrl.search(" ".join(batch)) is not None
    # the check is exact: the strip ran on the dirty batches only
    assert counting.strips == n_dirty and 1_000 <= n_dirty <= 5_000, n_dirty
    # each C0 control alone in an otherwise clean batch
    for c in _C0:
        batch = ["a b", f"x{c}y", "\tz\n"]
        strips = counting.strips
        assert normalize(batch) == per_text(batch), repr(c)
        assert counting.strips - strips == (c not in "\t\n\r"), repr(c)


def test_marker_and_truncate512_keep_their_outputs():
    """Pinned to the earlier pandas formulations, a missing text included."""
    texts = [None, "", "a b", "é" * 600, "x" * 511 + "\U0001f600yz"]
    series = pd.Series(texts, dtype=object)
    marker = create_engine("marker")(texts)
    assert marker == ("<<" + series.fillna("") + ">>").tolist()
    assert marker[:3] == ["<<>>", "<<>>", "<<a b>>"]
    trunc = create_engine("truncate512")(texts)
    assert trunc == series.fillna("").str.slice(0, 512).tolist()
    assert trunc[0] == "" and trunc[3] == "é" * 512 and trunc[4].endswith("\U0001f600")


def test_engines_return_same_length_output_from_any_sequence():
    texts = ["b", "a", None]
    for name, fn in ENGINES.items():
        got = fn(texts)
        assert len(got) == 3, name
        # a tuple and a Series (the traced benchmark's input) map
        # element-wise too
        assert list(fn(tuple(texts))) == list(got), name
        assert list(fn(pd.Series(texts, dtype=object))) == list(got), name
    # identity hands back its input object
    assert create_engine("identity")(texts) is texts


@pytest.mark.parametrize(
    "modules",
    [
        pytest.param(
            [
                "docling_translate_spark.operators.extract",
                "docling_translate_spark.golden",
                "docling_translate_spark.extract_map",
            ],
            id="extraction",
        ),
        pytest.param(["docling_translate_spark.operators.dedup"], id="dedup"),
        pytest.param(
            [
                "docling_translate_spark.operators.similarity",
                "docling_translate_spark.operators.bitext",
                "docling_translate_spark.operators.semdedup",
            ],
            id="similarity",
        ),
        pytest.param(
            ["docling_translate_spark.functions.markdown_render"], id="render"
        ),
    ],
)
def test_extraction_path_imports_no_pandas(modules):
    """The extraction kernel, its golden twin, the map engines, the
    dedup signature kernels, the vector kernels and the markdown render
    UDF run on plain lists and Arrow batches: importing them must not
    pull pandas in. This checks the imports only;
    ``test_fused_kernel_runs_without_pandas`` runs the extraction and
    MinHash kernels."""
    code = "".join(f"import {m}\n" for m in ["sys", *modules])
    code += "assert 'pandas' not in sys.modules, 'pandas imported'\n"
    root = Path(__file__).resolve().parents[1]
    res = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True
    )
    assert res.returncode == 0, res.stderr


_KERNEL_JOB = """
import json, sys
import pyarrow as pa, pyarrow.ipc as ipc
from pyspark.sql.types import LongType, StructField
from docling_translate_spark.operators.dedup import minhash_signatures
from docling_translate_spark.operators.extract import ExtractConfig, extract_turns_fused


class Frame:
    # hands the mapInArrow kernel back instead of planning a Spark job
    columns = ["conv_id", "turn_idx", "text", "tool", "caption", "cells", "headers"]
    schema = {"doc_id": StructField("doc_id", LongType())}

    def select(self, *cols):
        return self

    def mapInArrow(self, gen, schema):
        return gen


inputs = [ipc.open_stream(p).read_next_batch() for p in sys.argv[1:-1]]
inputs[2] = inputs[2].slice(3)
inputs.append(inputs[1].slice(0, 0))
configs = {
    "default": ExtractConfig(),
    "sentences": ExtractConfig(engine="normalize", sentence_split=True),
}
for mode, cfg in configs.items():
    out = list(extract_turns_fused(Frame(), cfg)(iter(inputs)))
    with ipc.new_stream(f"{sys.argv[-1]}/{mode}.arrow", out[0].schema) as w:
        for rb in out:
            w.write_batch(rb)
texts = [pa.RecordBatch.from_arrays([rb.column("turn_idx"), rb.column("text")], ["doc_id", "text"])
         for rb in inputs if len(rb)]
n_sigs = sum(len(rb) for rb in minhash_signatures(Frame(), num_hashes=8)(iter(texts)))
print(json.dumps({"pandas": "pandas" in sys.modules, "n_sigs": n_sigs}))
"""

_ASCII_TEXTS = [
    "Run this:\n```python\nprint('hi')\n```\nThen $x^2 + y^2 = z^2$ holds.",
    "",
    None,
    "   ",
    "Copyright 2024. All rights reserved.\n\nPlain body text. Second sentence!",
    "| a | b |\n|---|---|\n| 1 | 2 |",
]
_MIXED_TEXTS = [
    "Ünïcödé body. Zweiter Satz.",
    None,
    "日本語のテキスト。次の文。",
    "",
    "emoji 😀 and 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 text.\n```\ncode 𝔘 😀\n```",
    "nul \x00 byte",
    "plain ascii among mixed",
]


def _kernel_inputs():
    """An all-ASCII batch, a mixed batch, a batch the job slices at 3, a
    large_string batch and one with caption/cells/headers; the job adds a
    zero-length slice."""

    def batch(texts, tool_values, conv, **extra):
        cols = {
            "conv_id": pa.array([conv] * len(texts), pa.string()),
            "turn_idx": pa.array(range(len(texts)), pa.int32()),
            "text": pa.array(texts, pa.string()),
            "tool": pa.array(tool_values, pa.string()),
            **extra,
        }
        return pa.RecordBatch.from_arrays(list(cols.values()), list(cols))

    def tools(n):
        return [(None, "python", "", "bash")[i % 4] for i in range(n)]

    mixed = batch(_MIXED_TEXTS, tools(len(_MIXED_TEXTS)), "c-mixed")
    large = batch(_MIXED_TEXTS + _ASCII_TEXTS, tools(13), "c-large")
    large = large.set_column(2, "text", large.column("text").cast(pa.large_string()))
    aux = batch(
        ["Table below.", None, "Ünïcödé caption turn.", ""],
        tools(4),
        "c-aux",
        caption=pa.array(["A caption", None, "Légende 😀", ""], pa.string()),
        cells=pa.array([[["1", "é"], None], None, [], [["𝔘", ""]]]),
        headers=pa.array([["h1", None], None, ["ü"], []]),
    )
    return [
        batch(_ASCII_TEXTS, tools(len(_ASCII_TEXTS)), "c-ascii"),
        mixed,
        batch(_MIXED_TEXTS + _ASCII_TEXTS, tools(13), "c-sliced"),
        large,
        aux,
    ]


def test_fused_kernel_runs_without_pandas(tmp_path):
    """The fused kernel's generator, run in a fresh interpreter over
    ASCII, mixed, sliced, large_string, aux-column and zero-length batches,
    in default and sentence mode, equals ``golden.extract_turn`` and never
    loads pandas; nor does the MinHash kernel over the same texts."""
    import pyarrow.ipc as ipc

    from docling_translate_spark.golden import extract_turn

    batches = _kernel_inputs()
    paths = []
    for i, rb in enumerate(batches):
        paths.append(str(tmp_path / f"in{i}.arrow"))
        with ipc.new_stream(paths[-1], rb.schema) as w:
            w.write_batch(rb)
    root = Path(__file__).resolve().parents[1]
    res = subprocess.run(
        [sys.executable, "-c", _KERNEL_JOB, *paths, str(tmp_path)],
        cwd=root,
        capture_output=True,
        text=True,
    )
    assert res.returncode == 0, res.stderr
    report = json.loads(res.stdout.splitlines()[-1])

    batches[2] = batches[2].slice(3)
    rows = [r for rb in batches for r in rb.to_pylist()]
    assert report["n_sigs"] == len(rows)
    for mode, kw in [
        ("default", {}),
        ("sentences", {"engine": "normalize", "sentence_split": True}),
    ]:
        out = ipc.open_stream(tmp_path / f"{mode}.arrow").read_all().to_pylist()
        assert len(out) == len(rows)
        for got, row in zip(out, rows):
            want = extract_turn(
                row["text"],
                row["tool"] or None,
                caption=row.get("caption"),
                cells=row.get("cells"),
                headers=row.get("headers"),
                **kw,
            )
            key = (mode, row["conv_id"], row["turn_idx"])
            assert (got["conv_id"], got["turn_idx"]) == key[1:]
            assert got["extracted_text"] == want["extracted_text"], key
            assert [tuple(s.values()) for s in got["spans"]] == want["spans"], key
            assert got["n_spans"] == want["n_spans"], key
            assert got["boilerplate_ratio"] == want["boilerplate_ratio"], key
    assert not report["pandas"], "the kernels loaded pandas"
