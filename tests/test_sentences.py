"""Pinned fixtures for the deterministic sentence tokenizer (the engine's
Punkt stand-in; reference calls nltk.sent_tokenize at core.py:428)."""

import random

from docling_translate_spark import sentences
from docling_translate_spark.sentences import (
    _BOUNDARY_RE,
    _DOTTED_ABBR_RE,
    _TAIL_WORD_RE,
    ABBREVIATIONS,
    split_sentences,
)


def test_basic_split():
    assert split_sentences("One. Two! Three?") == ["One.", "Two!", "Three?"]


def test_abbreviations_suppress():
    assert split_sentences("See e.g. Fig. 3 for details. Next sentence.") == [
        "See e.g. Fig. 3 for details.",
        "Next sentence.",
    ]
    assert split_sentences("Dr. Smith agreed. It works.") == [
        "Dr. Smith agreed.",
        "It works.",
    ]


def test_initials():
    assert split_sentences("J. Smith wrote it. True story.") == [
        "J. Smith wrote it.",
        "True story.",
    ]


def test_no_terminal_punct():
    assert split_sentences("trailing fragment") == ["trailing fragment"]
    assert split_sentences("First. trailing fragment") == ["First. trailing fragment"]


def test_lowercase_continuation_not_split():
    # boundary requires an uppercase/digit start on the next token
    assert split_sentences("approx. half remained. Done.") == [
        "approx. half remained.",
        "Done.",
    ]


def test_quotes_and_brackets():
    assert split_sentences('He said "stop." Then left.') == [
        'He said "stop."',
        "Then left.",
    ]


def test_empty():
    assert split_sentences("") == []
    assert split_sentences("   ") == []


def test_newline_boundary():
    assert split_sentences("First line.\nSecond thing.") == [
        "First line.",
        "Second thing.",
    ]


def test_punkt_gap_fixtures():
    """Adversarial abbreviation / ellipsis / initialism fixtures: each
    encodes the boundary behavior the reference's Punkt tokenizer (a
    trained model, unavailable in this sandbox) exhibits on standard
    English — the documented round-1 divergence list, driven to zero by
    the dotted-initialism rule and the widened abbreviation table."""
    from docling_translate_spark.sentences import split_sentences

    cases = [
        # dotted initialisms do not end sentences mid-flow
        ("The U.S. economy grew. Then it slowed.",
         ["The U.S. economy grew.", "Then it slowed."]),
        ("She holds a Ph.D. Nonetheless she teaches.",
         ["She holds a Ph.D. Nonetheless she teaches."]),
        ("The U.S.A. Senate met today.", ["The U.S.A. Senate met today."]),
        # dotted FILE names still end sentences
        ("Edit config.yaml. Then restart.",
         ["Edit config.yaml.", "Then restart."]),
        # months and titles
        ("Born Jan. 5th. Died Dec. 9th.",
         ["Born Jan. 5th.", "Died Dec. 9th."]),
        ("Gen. Smith spoke. Sen. Jones replied.",
         ["Gen. Smith spoke.", "Sen. Jones replied."]),
        # ellipsis followed by a capital is a boundary
        ("Wait... Then go.", ["Wait...", "Then go."]),
        # ellipsis followed by lowercase is not
        ("Wait... then go.", ["Wait... then go."]),
        # citation shorthand
        ("See vol. 3, pp. 10-12. Next chapter follows.",
         ["See vol. 3, pp. 10-12.", "Next chapter follows."]),
        # street suffixes
        ("Meet at 5th Ave. North side. Bring maps.",
         ["Meet at 5th Ave. North side.", "Bring maps."]),
        # initials chains
        ("J. R. R. Tolkien wrote it. C. S. Lewis read it.",
         ["J. R. R. Tolkien wrote it.", "C. S. Lewis read it."]),
        # plain boundaries unaffected
        ("One sentence. Two sentences. Three.",
         ["One sentence.", "Two sentences.", "Three."]),
    ]
    diverging = [(t, split_sentences(t), want)
                 for t, want in cases if split_sentences(t) != want]
    assert not diverging, diverging


def test_punkt_gap_fixtures_r5():
    """Round-5 gap closure: geo/title/route/citation/state abbreviations
    a trained Punkt model learns, previously split wrongly by the rule
    set. Word-colliding candidates ('wash', 'ore', 'art') are
    deliberately NOT suppressed — the last two cases pin that real
    boundaries after those words still split."""
    from docling_translate_spark.sentences import split_sentences

    cases = [
        ("We climbed Mt. Everest today. It was cold.",
         ["We climbed Mt. Everest today.", "It was cold."]),
        ("Ft. Worth grew fast. So did Dallas.",
         ["Ft. Worth grew fast.", "So did Dallas."]),
        ("Adm. Nelson sailed. Cmdr. Riker followed.",
         ["Adm. Nelson sailed.", "Cmdr. Riker followed."]),
        ("Maj. Tom called. Pvt. Ryan answered.",
         ["Maj. Tom called.", "Pvt. Ryan answered."]),
        ("Take Hwy. 101 north. Exit at Rte. 9.",
         ["Take Hwy. 101 north.", "Exit at Rte. 9."]),
        ("Built ca. 1900. Restored later.",
         ["Built ca. 1900.", "Restored later."]),
        ("See ch. 4, pt. 2. Also ibid. 12.",
         ["See ch. 4, pt. 2.", "Also ibid. 12."]),
        ("She moved to Calif. Before that, Fla. Weather decided it.",
         ["She moved to Calif. Before that, Fla. Weather decided it."]),
        # word-colliding tokens still end sentences
        ("Do the wash. Then dry everything.",
         ["Do the wash.", "Then dry everything."]),
        ("They mined ore. Smelting came next.",
         ["They mined ore.", "Smelting came next."]),
    ]
    diverging = [(t, split_sentences(t), want)
                 for t, want in cases if split_sentences(t) != want]
    assert not diverging, diverging


def _split_whole_prefix(text):
    """The splitter's earlier formulation, kept as the reference: the
    tail word is searched over the whole prefix since the last split."""
    if not text or not text.strip():
        return []
    out, start = [], 0
    for m in _BOUNDARY_RE.finditer(text):
        if m.group(1) == ".":
            tail = _TAIL_WORD_RE.search(text[start : m.start(1)])
            if tail:
                word = tail.group(1).rstrip(".").lower()
                if (
                    word in ABBREVIATIONS
                    or (len(word) == 1 and word.isalpha())
                    or _DOTTED_ABBR_RE.match(word)
                ):
                    continue
        sent = text[start : m.end(2)].strip()
        if sent:
            out.append(sent)
        start = m.end(3)
    if text[start:].strip():
        out.append(text[start:].strip())
    return out


class _CountingSearch:
    """``_TAIL_WORD_RE`` with a count of its searches: the splitter's
    regex branch."""

    def __init__(self, pattern):
        self.pattern = pattern
        self.calls = 0

    def search(self, *args):
        self.calls += 1
        return self.pattern.search(*args)


def test_tail_word_window_equals_whole_prefix_search(monkeypatch):
    """Searching for the tail word only after the last space before the
    period, and taking a plain ASCII-letter window as the word without a
    search, splits exactly like searching the whole prefix. The seeded
    strings mix letters, terminators, closers/openers, digits, tabs and
    newlines, non-ASCII letters (``é.``, ``naïve.``), a newline before
    the period (where ``$`` matches before it), digits and dots inside
    the window, empty windows at a sentence start, and the abbreviations
    (bare, dotted and title-cased). Both branches run often."""
    abbr = sorted(ABBREVIATIONS)
    pieces = (
        list("abzXYZ.!?.\"'’”)]“‘([0129 \t\n éßΩ")
        + ["  ", "\n\n", " . ", "U.S.", "e.g.", "Ph.D.", "config.yaml."]
        + [" Word.", " ok.", " The end.", " Fig.", " vs.", " J.", "é.", "naïve.", "café.", "\n.", "a\n.", "v2.", "3.14.", "x1y."]
        + [". A", "? . B", "! .\tC", "a.b.", "I.B.M."]
        + [a + "." for a in abbr]
        + [a.title() + "." for a in abbr]
    )
    rng = random.Random(13)
    texts = ["", " ", ".", "a. B", "x.\n. Y", "Dr.\tSmith. Ok", ". A", "Go! . B"]
    texts += ["é. B", "naïve. B", "a\n. B", "v2.0. B", "1.2. C", "abc. D"]
    texts += [
        "".join(rng.choice(pieces) for _ in range(rng.randrange(40)))
        for _ in range(50_000)
    ]
    counting = _CountingSearch(_TAIL_WORD_RE)
    monkeypatch.setattr(sentences, "_TAIL_WORD_RE", counting)
    n_split = n_dot = 0
    for t in texts:
        got = split_sentences(t)
        assert got == _split_whole_prefix(t), repr(t)
        n_split += len(got) > 1
        # every boundary match is visited; a "." one takes one branch
        n_dot += sum(m.group(1) == "." for m in _BOUNDARY_RE.finditer(t))
    assert n_split > 5_000  # the draw reaches real boundaries
    assert counting.calls >= 1_000  # regex branch
    assert n_dot - counting.calls >= 1_000  # plain-word branch
