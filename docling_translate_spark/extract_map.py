"""The batched map stage — deterministic analog of the translator plugins.

The reference's extension point is a registry of translation engines, each
a scalar ``str -> str`` contract driven in batches
(reference ``src/translation/base.py:18-97``,
``src/translation/__init__.py:23-54``; the NLLB engines are the truly
batched path, chunking 16 sentences per inference call,
``src/translation/engines/nllb.py:103-200``).

Here the map must be deterministic (no network, no models), so the engines
are pure list transforms: a sequence of texts in (the kernel passes a
list, perfbench's ledger a pandas Series), a list of strings out, same
length and order; ``identity`` returns its input object itself. A
one-pass iterator is not a sequence: ``normalize`` reads its input twice
and would return ``[]`` for one. The kernel maps each Arrow batch's
**deduplicated** texts in one call and joins results back by first-seen
index (reference ``src/core.py:453-486``) — the Arrow batch IS the
reference's chunk.
"""

from __future__ import annotations

import re
from typing import Callable, Dict, Sequence

MapEngine = Callable[[Sequence[str | None]], list[str]]

_CTRL_RE = re.compile(r"[\x00-\x08\x0b\x0c\x0e-\x1f]")
# the code points of _CTRL_RE's class, as the UTF-8 bytes that encode them
_CTRL_BYTES = bytes(c for c in range(0x20) if _CTRL_RE.match(chr(c)))


def identity_map(texts: Sequence[str | None]) -> list[str]:
    """Pass-through — per-turn output text equals the source text, which is
    what makes fixtures byte-for-byte reproducible (north rule). Returns
    its input object, not a list copy."""
    return texts


def normalize_map(texts: Sequence[str | None]) -> list[str]:
    """Control-char strip, then whitespace-run collapse + trim; a missing
    text maps to ``""``.

    ``str.split()`` breaks on exactly the code points that ``re``'s
    ``\\s`` and ``str.strip()`` treat as whitespace (all three use
    ``Py_UNICODE_ISSPACE``), so ``" ".join(t.split())`` equals
    ``re.sub(r"\\s+", " ", t).strip()``. One check runs over the whole
    batch joined with ``" "`` (not in the class); only a batch that holds
    a control character, or a missing text, pays the per-text ``sub``.

    The check encodes the joined batch to UTF-8 and looks for each byte of
    :data:`_CTRL_BYTES` with ``bytes.__contains__`` (one ``memchr`` each).
    UTF-8 writes U+0000-U+001F as those single bytes, and every other code
    point only with bytes of 0x20 and above (``surrogatepass`` keeps lone
    surrogates in that range too), so a byte is found exactly when
    ``_CTRL_RE`` would match. On a 4-vCPU host (one thread, median of 9),
    over the 90,370 unique sentences of perfbench's seed-703
    ``extract_sentences`` input in 10,000-row batches, the check, join
    included, took 4.3 ms against the ``_CTRL_RE`` search's 19.8 ms; with
    CJK or emoji in every sentence, 8.0 ms against 20.7 and 15.0 ms."""
    try:
        joined = " ".join(texts)
    except TypeError:  # a missing (non-str) text: strip per text
        clean = False
    else:
        encoded = joined.encode("utf-8", "surrogatepass")
        clean = not any(b in encoded for b in _CTRL_BYTES)
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
