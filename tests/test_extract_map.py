"""The map engines of extract_map.py, without Spark."""

import random
import re
import subprocess
import sys
from pathlib import Path

import pandas as pd
import pytest

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


def test_normalize_batch_check_equals_per_text_strip():
    """The one batch-wide control-char search picks the same output as
    stripping every text on its own: batches with and without ``\\x0b``
    and ``\\x1c``-``\\x1f`` (whitespace to ``str.split`` and control
    characters to the strip), with and without a missing text, and the
    empty batch."""
    ctrl = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")

    def per_text(texts):
        return [" ".join(ctrl.sub("", t).split()) if isinstance(t, str) else "" for t in texts]

    plain = [c for c in _ALPHABET if not ctrl.match(c)]
    specials = ["\x0b", "\x1c", "\x1d", "\x1e", "\x1f", None]
    normalize = create_engine("normalize")
    rng = random.Random(11)
    assert normalize([]) == []
    for i in range(3_000):
        batch = [
            "".join(rng.choice(plain) for _ in range(rng.randrange(12)))
            for _ in range(rng.randrange(1, 20))
        ]
        if i % 2:
            s = rng.choice(specials)
            j = rng.randrange(len(batch))
            batch[j] = s if s is None else batch[j][:3] + s + batch[j][3:]
        assert normalize(batch) == per_text(batch), batch


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


def test_engines_return_same_length_list_from_any_iterable():
    texts = ["b", "a", None]
    for name, fn in ENGINES.items():
        got = fn(texts)
        assert len(got) == 3, name
        # a Series (the traced benchmark's input) maps element-wise too
        assert list(fn(pd.Series(texts, dtype=object))) == list(got), name
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
    pull pandas in. This checks the imports only. Running the kernels
    still loads pandas in the worker, because pyarrow 16.1 imports it
    lazily inside ``pa.array`` of a Python list and
    ``Array.to_numpy(zero_copy_only=False)``."""
    code = "".join(f"import {m}\n" for m in ["sys", *modules])
    code += "assert 'pandas' not in sys.modules, 'pandas imported'\n"
    root = Path(__file__).resolve().parents[1]
    res = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True
    )
    assert res.returncode == 0, res.stderr
