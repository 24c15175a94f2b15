"""Iterative operators release each superseded round's ``localCheckpoint``.

Spark drops a local checkpoint's blocks neither on ``clearCache()`` nor
when the frame is collected, so every round left behind stays registered
for the session's lifetime. Each operator is consumed on two different
inputs in one session; each call may leave only its result's own
checkpoint behind.
"""

import pytest

from docling_translate_spark.operators.dedup import connected_components
from docling_translate_spark.operators.graph import pagerank


def _chain(spark, seed):
    """A 40-edge path (diameter 40, several jump rounds) plus a short
    branch every seventh vertex, shifted by ``seed``."""
    base = 1000 * seed
    edges = [(base + i, base + i + 1) for i in range(40)]
    edges += [(base + i, base + 500 + i) for i in range(0, 40, 7)]
    return spark.createDataFrame(edges, "id_a long, id_b long")


CASES = {
    "pagerank": lambda d: pagerank(d, src="id_a", dst="id_b", iters=4),
    "connected_components": lambda d: connected_components(d),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_iteration_leaves_only_its_result_checkpoint(spark, name):
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    for seed in (1, 2):
        before = len(persistent())
        out = CASES[name](_chain(spark, seed))
        assert out.collect(), f"{name}: empty result on input {seed}"
        left = len(persistent()) - before
        assert left <= 1, f"{name} left {left} persistent RDDs on input {seed}"
