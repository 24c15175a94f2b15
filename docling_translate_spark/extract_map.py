"""The batched map stage — deterministic analog of the translator plugins.

The reference's extension point is a registry of translation engines, each
a scalar ``str -> str`` contract driven in batches
(reference ``src/translation/base.py:18-97``,
``src/translation/__init__.py:23-54``; the NLLB engines are the truly
batched path, chunking 16 sentences per inference call,
``src/translation/engines/nllb.py:103-200``).

Here the map must be deterministic (no network, no models), so the engines
are pure list transforms: any iterable of texts in, a list of strings out,
same length and order. The kernel maps each Arrow batch's **deduplicated**
texts in one call and joins results back by first-seen index (reference
``src/core.py:453-486``) — the Arrow batch IS the reference's chunk.
"""

from __future__ import annotations

import re
from typing import Callable, Dict, Sequence

MapEngine = Callable[[Sequence[str | None]], list[str]]

_CTRL_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")


def identity_map(texts: Sequence[str | None]) -> list[str]:
    """Pass-through — per-turn output text equals the source text, which is
    what makes fixtures byte-for-byte reproducible (north rule)."""
    return texts


def normalize_map(texts: Sequence[str | None]) -> list[str]:
    """Control-char strip, then whitespace-run collapse + trim; a missing
    text maps to ``""``.

    ``str.split()`` breaks on exactly the code points that ``re``'s
    ``\\s`` and ``str.strip()`` treat as whitespace (all three use
    ``Py_UNICODE_ISSPACE``), so ``" ".join(t.split())`` equals
    ``re.sub(r"\\s+", " ", t).strip()``. One ``_CTRL_RE`` search runs
    over the whole batch joined with ``" "`` (not in the class); only a
    batch that holds a control character, or a missing text, pays the
    per-text ``sub``."""
    try:
        clean = _CTRL_RE.search(" ".join(texts)) is None
    except TypeError:  # a missing (non-str) text: strip per text
        clean = False
    if clean:
        return [" ".join(t.split()) for t in texts]
    sub = _CTRL_RE.sub
    return [" ".join(sub("", t).split()) if isinstance(t, str) else "" for t in texts]


def marker_map(texts: Sequence[str | None]) -> list[str]:
    """Test engine: tags each unique text, so join-back multiplicity and
    ordering are observable in fixtures (maps s -> '<<s>>')."""
    return [f"<<{t if isinstance(t, str) else ''}>>" for t in texts]


def truncate512_map(texts: Sequence[str | None]) -> list[str]:
    """Length-capped map — the reference's tokenizer truncation analog
    (``truncation=True, max_length=512``, engines/nllb.py:139), applied
    at the character level since this engine is model-free."""
    return [t[:512] if isinstance(t, str) else "" for t in texts]


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
