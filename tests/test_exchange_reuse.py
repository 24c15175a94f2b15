"""Operators whose fan-out sits at an aggregate, ``distinct`` or join
output cache nothing: AQE runs the shared exchange once and every other
consumer reads its shuffle files (``ReusedExchange``). Each operator is
consumed on two different inputs in one session; neither call may leave
a persistent RDD behind, and each executed plan must reuse an exchange,
since the missing cache relies on that reuse.
"""

import random

import pytest

from docling_translate_spark.operators.classifier import nb_classify
from docling_translate_spark.operators.sampling import dsir_weights
from docling_translate_spark.operators.text_analysis import (
    bigram_lm_score,
    bigram_lm_train,
    source_overlap,
    vocab_divergence,
    winnow_overlap_pairs,
)

SCHEMA = "doc_id long, source string, text string"
WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
    "nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
).split()


def _docs(spark, seed):
    """60 word-salad docs in 4 sources; every third doc repeats a shared
    12-word passage, so fingerprints, shingles and bigrams overlap."""
    rng = random.Random(seed)
    shared = " ".join(rng.choice(WORDS) for _ in range(12))
    rows = []
    for i in range(60):
        words = [rng.choice(WORDS) for _ in range(rng.randint(8, 30))]
        text = " ".join(words) + (" " + shared if i % 3 == 0 else "")
        rows.append((i, f"s{i % 4}", text))
    return spark.createDataFrame(rows, SCHEMA)


def _half(d, r):
    return d.filter(d.doc_id % 2 == r)


CASES = {
    "dsir_weights": lambda d: dsir_weights(d, _half(d, 0)),
    "nb_train+nb_classify": lambda d: nb_classify(d, _half(d, 0), _half(d, 1)),
    "winnow_overlap_pairs": lambda d: winnow_overlap_pairs(d, min_shared=1),
    "bigram_lm_train": lambda d: bigram_lm_score(d, bigram_lm_train(d)),
    "vocab_divergence": lambda d: vocab_divergence(_half(d, 0), _half(d, 1)),
    "source_overlap": lambda d: source_overlap(d),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_fan_out_reuses_an_exchange_and_caches_nothing(spark, name):
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    for seed in (1, 2):
        before = len(persistent())
        out = CASES[name](_docs(spark, seed))
        assert out.collect(), f"{name}: empty result on input {seed}"
        assert len(persistent()) == before, f"{name} left a cached RDD"
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ReusedExchange" in plan, f"{name}: no reused exchange\n{plan}"
