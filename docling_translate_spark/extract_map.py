"""The batched map stage — deterministic analog of the translator plugins.

The reference's extension point is a registry of translation engines, each
a scalar ``str -> str`` contract driven in batches
(reference ``src/translation/base.py:18-97``,
``src/translation/__init__.py:23-54``; the NLLB engines are the truly
batched path, chunking 16 sentences per inference call,
``src/translation/engines/nllb.py:103-200``).

Here the map must be deterministic (no network, no models), so the engines
are pure vectorized ``pd.Series -> pd.Series`` transforms. The pipeline
applies the selected engine to the **deduplicated** unique-text set and
broadcast-joins results back (reference ``src/core.py:453-486``) — the
Arrow batch IS the reference's chunk.
"""

from __future__ import annotations

import re
from typing import Callable, Dict

import pandas as pd

MapEngine = Callable[[pd.Series], pd.Series]

_CTRL_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")


def identity_map(texts: pd.Series) -> pd.Series:
    """Pass-through — per-turn output text equals the source text, which is
    what makes fixtures byte-for-byte reproducible (north rule)."""
    return texts


def normalize_map(texts: pd.Series) -> pd.Series:
    """Control-char strip, then whitespace-run collapse + trim; a missing
    text maps to ``""``.

    One pass per text: ``str.split()`` breaks on exactly the code points
    that ``re``'s ``\\s`` and ``str.strip()`` treat as whitespace (all
    three use ``Py_UNICODE_ISSPACE``), so ``" ".join(t.split())`` equals
    ``re.sub(r"\\s+", " ", t).strip()`` and saves two pandas passes."""
    sub = _CTRL_RE.sub
    return pd.Series(
        [" ".join(sub("", t).split()) if isinstance(t, str) else "" for t in texts],
        index=texts.index,
        dtype=object,
    )


def marker_map(texts: pd.Series) -> pd.Series:
    """Test engine: tags each unique text, so join-back multiplicity and
    ordering are observable in fixtures (maps s -> '<<s>>')."""
    return "<<" + texts.fillna("") + ">>"


def truncate512_map(texts: pd.Series) -> pd.Series:
    """Length-capped map — the reference's tokenizer truncation analog
    (``truncation=True, max_length=512``, engines/nllb.py:139), applied
    at the character level since this engine is model-free."""
    return texts.fillna("").str.slice(0, 512)


ENGINES: Dict[str, MapEngine] = {
    "identity": identity_map,
    "normalize": normalize_map,
    "marker": marker_map,
    "truncate512": truncate512_map,
}


def create_engine(name: str) -> MapEngine:
    """Registry lookup, same shape as the reference's ``create_translator``
    factory (``src/translation/__init__.py:23-54``)."""
    try:
        return ENGINES[name]
    except KeyError:
        raise ValueError(
            f"unknown map engine {name!r}; available: {sorted(ENGINES)}"
        ) from None
