"""Every gate query's plan facts against ``tests/data/plan_facts.tsv``.

Each ``__spark_entry__.queries()`` entry is built over the sf0.001 data
in the suite's session (``local[4]``, 8 shuffle partitions) and reduced
to one line by :func:`docling_translate_spark.plans.facts.plan_facts`:
exchanges by kind, broadcasts, Python boundary nodes, cached relations
and scanned columns. A change that alters a gate query's plan updates
the table in the same diff; the failure message prints the lines to
paste. The facts depend on the core count through ``_spread`` (see the
facts module), so the table holds for this session only.
"""

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry  # noqa: E402
from docling_translate_spark.plans.facts import plan_facts  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
TABLE = Path(__file__).parent / "data" / "plan_facts.tsv"


def _table() -> dict[str, str]:
    lines = TABLE.read_text().splitlines()
    return dict(line.split("\t", 1) for line in lines if line)


def test_table_names_the_gate_queries():
    assert set(_table()) == set(entry.queries())


def test_plan_facts_match_table(spark):
    if not os.path.isdir(SF_DIR):
        pytest.skip(f"gate data absent: {SF_DIR}")
    want = _table()
    got = {}
    # the runner owns cached relations (as tools/check_oracle.py does):
    # nothing cached before or by one query may show in the next plan
    spark.catalog.clearCache()
    for name, fn in entry.queries().items():
        got[name] = plan_facts(fn(spark, SF_DIR))
        spark.catalog.clearCache()
    changed = [n for n in got if want.get(n) != got[n]]
    if changed:
        pytest.fail(
            f"plan facts changed for {', '.join(changed)}; replace their "
            f"lines in {TABLE.name} with:\n"
            + "\n".join(f"{n}\t{got[n]}" for n in changed)
        )
