"""The map engines of extract_map.py, without Spark."""

import random
import re
import sys

import pandas as pd

from docling_translate_spark.extract_map import create_engine

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
    series = pd.Series(texts, index=range(5, 5 + len(texts)), dtype=object)
    got = create_engine("normalize")(series)
    want = _regex_normalize(series)
    assert got.index.equals(series.index)
    assert got.tolist() == want.tolist()
    assert got[5] == ""  # None
