"""Dedup operator fixtures: exact, n-gram Jaccard, MinHash LSH, SimHash."""

import hashlib
import sys
from pathlib import Path

import duckdb
import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from docling_translate_spark.operators.dedup import (
    _MINHASH_P,
    _hash_params,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_signatures,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away today"
)
NEAR = (
    "the quick brown fox jumps over the lazy dog and runs far away tonight"
)
OTHER = "completely different content about spark shuffle partitions and arrow batches"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),          # exact dup of 0
        (2, NEAR),          # near dup of 0 (one word differs)
        (3, OTHER),
        (4, "tiny"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"]).cache()


def test_exact_dedup(spark, docs):
    out = {r["rep_id"]: r["n_dups"] for r in exact_dedup(docs).collect()}
    assert out[0] == 2  # docs 0 and 1 collapse
    assert out[2] == 1
    assert out[3] == 1
    assert sum(out.values()) == 5


def test_ngram_jaccard(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical
    assert (0, 2) in pairs and 0.5 <= pairs[(0, 2)] < 1.0
    assert not any({a, b} & {3, 4} for a, b in pairs)


def test_minhash_estimates_jaccard(spark, docs):
    sigs = {r["sid"]: r["signature"] for r in minhash_signatures(docs).collect()}
    assert len(sigs[0]) == 128
    assert sigs[0] == sigs[1]  # identical text → identical signature
    est = sum(a == b for a, b in zip(sigs[0], sigs[2])) / 128
    # true 3-gram jaccard of BASE vs NEAR is ~0.83; 128 hashes ⇒ ±~0.1
    assert 0.6 < est <= 1.0
    est_far = sum(a == b for a, b in zip(sigs[0], sigs[3])) / 128
    assert est_far < 0.2


def test_minhash_lsh_pairs(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert (0, 1) in pairs
    assert (0, 2) in pairs and (1, 2) in pairs
    assert not any({a, b} & {3, 4} for a, b in pairs)


def test_simhash(spark, docs):
    sigs = {r["sid"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    assert sigs[0] == sigs[1]
    ham = bin((sigs[0] ^ sigs[2]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((sigs[0] ^ sigs[3]) & ((1 << 64) - 1)).count("1")
    assert ham < ham_far  # near-dup is closer in hamming space


def test_simhash_banded_pairs(spark):
    """hamming ≤ 3 pairs are guaranteed found by 4-band blocking
    (pigeonhole). Long docs differing in one token land within range."""
    base = [f"tok{i}" for i in range(40)]
    near = list(base)
    near[9] = "delta"  # deterministic under the md5 token hash: hamming == 1
    rows = [(0, " ".join(base)), (1, " ".join(near)), (2, " ".join(base))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(df, max_hamming=3).collect()
    }
    assert pairs[(0, 2)] == 0  # identical
    assert (0, 1) in pairs and 0 < pairs[(0, 1)] <= 3
    assert (1, 2) in pairs


def test_ngram_jaccard_hot_shingle_identical_docs(spark):
    """r4 review: with intersection over rare shingles but union over
    FULL set sizes, two identical docs sharing one stop-shingle scored
    4/(5+5-4)=0.667 and missed a 0.8 threshold. Jaccard now drops hot
    shingles from both sides: identical docs score 1.0 regardless of
    stop-shingle mass."""
    # every doc starts with the same 3 tokens -> one hot shingle shared
    # by all; docs 0 and 1 are byte-identical
    hot = "www example com"
    rows = [
        (0, f"{hot} alpha beta gamma delta epsilon"),
        (1, f"{hot} alpha beta gamma delta epsilon"),
        (2, f"{hot} zeta eta theta iota kappa"),
        (3, f"{hot} one two three four five"),
        (4, f"{hot} six seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.8, max_bucket=4).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert all(p == (0, 1) for p in pairs), pairs


def test_minhash_lsh_max_bucket_drops_mega_buckets(spark, docs):
    """max_bucket drops oversized band buckets from candidate
    generation: with a cap of 1 every bucket with >1 member vanishes, so
    no pairs emerge; with the default None the usual pairs return."""
    assert minhash_lsh_pairs(docs, threshold=0.5, max_bucket=1).count() == 0
    assert minhash_lsh_pairs(docs, threshold=0.5).count() > 0


def test_simhash_bands_derive_from_max_hamming(spark):
    """r4 review: a hard-coded 4-band split only guarantees recall for
    hamming <= 3 — max_hamming=4 pairs differing in one bit per 16-bit
    band were silently missed. Bands now derive from the parameter
    (k+1 bands), so any hamming <= k pair shares an untouched band."""
    from docling_translate_spark.operators.dedup import simhash_signatures

    base = [f"tok{i}" for i in range(60)]
    # craft a neighbor EXACTLY 4 bits away, one per 16-bit quarter:
    # batch 400 single-token swaps through the kernel in ONE job and
    # pick the first that lands; deterministic given the md5 token hash
    cands = {s: base[:7] + [f"alt{s}"] + base[8:] for s in range(1, 401)}
    rows = [(0, " ".join(base))] + [
        (s, " ".join(c)) for s, c in cands.items()
    ]
    sigs = {
        r["sid"]: r["simhash"]
        for r in simhash_signatures(
            spark.createDataFrame(rows, ["doc_id", "text"])
        ).collect()
    }
    h0, target = sigs[0], None
    for s in range(1, 401):
        x = (h0 ^ sigs[s]) & ((1 << 64) - 1)
        if bin(x).count("1") == 4 and all(
            bin((x >> (16 * q)) & 0xFFFF).count("1") == 1 for q in range(4)
        ):
            target = cands[s]
            break
    if target is None:
        import pytest

        pytest.skip("no 4-bit-spread neighbor found in 400 swaps")
    rows = [(0, " ".join(base)), (1, " ".join(target))]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got3 = {(r["id_a"], r["id_b"]) for r in simhash_pairs(df, max_hamming=3).collect()}
    got4 = {(r["id_a"], r["id_b"]) for r in simhash_pairs(df, max_hamming=4).collect()}
    assert (0, 1) not in got3  # hamming 4 correctly above a k=3 cutoff
    assert (0, 1) in got4      # and guaranteed found at k=4


def test_simhash_empty_text(spark):
    df = spark.createDataFrame([(0, ""), (1, None)], ["doc_id", "text"])
    out = {r["sid"]: r["simhash"] for r in simhash_signatures(df).collect()}
    assert out == {0: 0, 1: 0}


def test_minhash_hash_params_bounded_for_any_seed():
    """a < 2^32 by construction (r2 ADVICE): a in [2^32, P) would wrap
    a*h+b in numpy uint64 but not in the oracle's HUGEINT, silently
    breaking signature parity for unlucky seeds."""
    from docling_translate_spark.operators.dedup import _hash_params

    for seed in range(25):
        a, b = _hash_params(128, seed=seed)
        assert int(a.max()) < 1 << 32 and int(a.min()) >= 1, seed
        assert int(b.min()) >= 0


def test_connected_components_chain_and_island(spark):
    """Min-label propagation over pair edges: a 3-chain (1-2, 2-3) is
    ONE component labeled by its min id, an unrelated pair is another,
    and vertices appearing only as id_b still get labels."""
    from docling_translate_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (7, 3)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 10: 10, 11: 10}


def test_connected_components_path_graph_converges(spark):
    """A long path is the diameter worst case — the fixpoint loop must
    still converge (within max_iter) to a single min label."""
    from docling_translate_spark.operators.dedup import connected_components

    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_dedup_segments_c4_keep_first(spark):
    """Duplicate 10-word segments survive only at the globally-first
    (doc_id, seg_idx) occurrence; empty/NULL docs come back as '' rows."""
    from docling_translate_spark.operators.dedup import dedup_segments

    seg_a = "a b c d e f g h i j"
    seg_b = "k l m n o p q r s t"
    df = spark.createDataFrame(
        [
            (1, f"{seg_a} {seg_b}"),  # first occurrence of both segments
            (2, f"{seg_a} x y z"),    # seg_a dropped, tail kept
            (3, seg_b),               # fully deduped
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["clean_text"], r["n_kept_segments"])
           for r in dedup_segments(df).collect()}
    assert got == {
        1: (f"{seg_a} {seg_b}", 2),
        2: ("x y z", 1),
        3: ("", 0),
        4: ("", 0),
        5: ("", 0),
    }


def test_dedup_segments_within_doc_repeat(spark):
    """A segment repeated INSIDE one doc keeps only its first index."""
    from docling_translate_spark.operators.dedup import dedup_segments

    seg = "a b c d e f g h i j"
    df = spark.createDataFrame([(1, f"{seg} {seg}")], "doc_id long, text string")
    (row,) = dedup_segments(df).collect()
    assert row["clean_text"] == seg and row["n_kept_segments"] == 1


def test_connected_components_long_chain_pointer_jumping(spark):
    """A 60-edge path converges well inside default max_iter: pointer
    jumping gives O(log diameter) rounds (plain neighbor-min would need
    60 and previously returned silently-wrong labels past max_iter)."""
    from docling_translate_spark.operators.dedup import connected_components

    n = 60
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )
    got = {r["id"]: r["comp"] for r in connected_components(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


# empty, missing, whitespace-only, fewer-than-3-token, repeated-shingle
# (within a doc and across docs) and non-ASCII texts, then enough short
# docs that a 7-row Arrow batch splits the fixture several times
PIN_TEXTS = [
    "",
    None,
    "   \t\n",
    "\x0b\x1c\x1f",
    "one",
    "Two  words\n",
    "a b c a b c a b c",
    "x a b c y",
    "a b c a b c a b c",
    "Grüße aus Köln, Straße",
    "İstanbul ΣΊΣΥΦΟΣ ǅemal",
    "日本語 の テキスト 日本語 の テキスト",
    "a\xa0b c\u3000d e",
    BASE,
    NEAR,
    OTHER,
    BASE,
] + [" ".join(f"w{(i * j) % 11}" for j in range(i % 9)) for i in range(30)]


def _md5_64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:16], 16)


def _ref_minhash(text, n=3, k=128) -> list[int]:
    """From the spec: the set of word n-gram shingles (fewer than n
    tokens: the joined tokens), then per hash the min of
    (a*h + b) mod P in Python ints over the shingles' low 32 hash bits."""
    toks = str(text or "").lower().split()
    if len(toks) >= n:
        shingles = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
    else:
        shingles = {" ".join(toks)}
    hs = [_md5_64(s) & 0xFFFFFFFF for s in shingles]
    a, b = _hash_params(k)
    return [min((int(ai) * h + int(bi)) % _MINHASH_P for h in hs) for ai, bi in zip(a, b)]


def _ref_simhash(text) -> int:
    """From the spec: bit b is set when more than half of the tokens'
    md5 hashes have it set; no tokens hash to 0; signed 64-bit."""
    toks = str(text or "").lower().split()
    hs = [_md5_64(t) for t in toks]
    u = sum(1 << b for b in range(64) if 2 * sum((h >> b) & 1 for h in hs) > len(toks))
    return u - (1 << 64) if u >= 1 << 63 else u


@pytest.mark.parametrize("parts", [1, 7])
@pytest.mark.parametrize("batch_rows", [7, 10000])
def test_signature_kernels_equal_reference(spark, batch_rows, parts):
    """Both kernels intern items in a batch-scoped dict: a token or
    shingle id leaking across docs, batches or partitions would change
    some signature at one of these layouts. Seven partitions are hashed
    on three keys, so at least four are empty (a round-robin split of
    this many rows fills all seven)."""
    df = spark.createDataFrame(
        list(enumerate(PIN_TEXTS)), "doc_id long, text string"
    ).repartition(parts, F.col("doc_id") % 3)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(batch_rows))
    try:
        mh = {r.sid: r.signature for r in minhash_signatures(df).collect()}
        sh = {r.sid: r.simhash for r in simhash_signatures(df).collect()}
    finally:
        spark.conf.set(key, prev)
    assert mh == {i: _ref_minhash(t) for i, t in enumerate(PIN_TEXTS)}
    assert sh == {i: _ref_simhash(t) for i, t in enumerate(PIN_TEXTS)}


def test_simhash_oracle_tokenizes_like_the_kernel(spark):
    """The ``dedup_simhash`` DuckDB oracle splits tokens as the kernel's
    ``str.lower().split()`` does: leading and trailing tabs or newlines
    add no empty token, and \\x0b and \\x1c-\\x1f separate tokens."""
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import __spark_entry__ as entry

    try:
        battery = entry.oracle_sql()["hashsig_battery"]
    except duckdb.IOException as e:  # ann_ivf literals replay the gate parquet
        pytest.skip(f"oracle_sql() needs the gate's sf0.01 parquet: {e}")
    probes = [
        "\tfoo bar baz",
        "foo bar baz\n",
        "\r\nfoo\fbar\r\n",
        "a\x0bb c",
        "x\x1cy\x1dz\x1e\x1fw",
        "  lead and trail  ",
        "Mixed CASE words",
        "",
        " \t ",
        None,
    ]
    docs = pa.table(
        {
            "doc_id": pa.array(range(len(probes)), pa.int64()),
            "text": pa.array(probes, pa.string()),
        }
    )
    con = duckdb.connect()
    con.register("documents", docs)
    # the battery's simhash branch is the dedup_simhash member oracle
    sql = f"SELECT CAST(k AS BIGINT), v1 FROM ({battery}) WHERE branch = 'simhash'"
    want = dict(con.execute(sql).fetchall())
    df = spark.createDataFrame(list(enumerate(probes)), "doc_id long, text string")
    got = {r.sid: r.simhash for r in simhash_signatures(df).collect()}
    assert got == want


@pytest.mark.parametrize("bands", [0, -2, 129])
def test_minhash_lsh_pairs_rejects_bands_outside_num_hashes(docs, bands):
    """bands > num_hashes gives 0-row bands (every pair a candidate);
    bands < 1 divides by zero or slices backwards."""
    with pytest.raises(ValueError, match="bands"):
        minhash_lsh_pairs(docs, num_hashes=128, bands=bands)


def test_minhash_lsh_pairs_uneven_layout(spark, docs):
    """num_hashes % bands != 0 stays legal: bands take num_hashes //
    bands rows each, the tail joins no band but counts in the estimate."""
    pairs = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, num_hashes=64, bands=30, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and (0, 2) in pairs
    assert not any({a, b} & {3, 4} for a, b in pairs)
