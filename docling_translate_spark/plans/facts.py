"""One line of physical-plan facts per DataFrame, free of expression ids.

The shape of a plan is part of this engine's design: extraction is one
narrow ``MapInArrow`` stage, dedup is an arg-min ``groupBy`` where a
naive version would use a hot-key window. :func:`plan_facts` keeps the
facts a reviewer needs to see when that shape changes, the exchanges
(the cost that matters at scale) and the Python boundaries, and nothing
that changes from one run to the next. ``tests/test_plan_facts.py``
compares one line per ``__spark_entry__.queries()`` entry with
``tests/data/plan_facts.tsv``.

A line reads, for example::

    hash=2 range=0 single=0 roundrobin=1 broadcast=1; python MapInArrow=1; cached=0; scans documents(doc_id,text)=2

- ``hash``, ``range``, ``single`` and ``roundrobin`` count ``Exchange``
  nodes by partitioning (any other kind is added by its lower-cased
  name), ``broadcast`` counts ``BroadcastExchange`` nodes;
- ``python`` counts the Python boundary nodes by name (``MapInArrow``,
  ``MapInPandas``, ``ArrowEvalPython``, ``BatchEvalPython``, any
  ``*InPandas*`` or ``*InArrow*``), or reads ``python none``;
- ``cached`` counts ``InMemoryRelation`` nodes;
- ``scans`` lists each file scan by file name (``documents`` for
  ``.../documents.parquet``) with its ``ReadSchema`` columns and the
  number of its scan nodes.

The plan is the one built before the query runs. At run time AQE
reuses an exchange that comes out identical to another, so a table can
be read fewer times than its scan count says.

Counts include the plans printed inside each ``InMemoryRelation``, so a
cached relation read twice counts its exchanges twice: the text shows
the cached plan under both reads. Spark abbreviates a scan's
``ReadSchema`` or location longer than ``spark.sql.maxMetadataStringLength``
(100 characters by default); :func:`plan_facts` raises then rather than
record a cut column list.

Facts depend on the session's ``defaultParallelism`` only through
``__spark_entry__._spread``: at 1 it adds no round-robin exchange, which
changes 71 of the 82 lines. That is why the table is pinned to the
tier-1 session (``local[4]``, 8 shuffle partitions).
"""

from __future__ import annotations

import os
import re
from collections import Counter

from pyspark.sql import DataFrame

_KIND = {
    "hashpartitioning": "hash",
    "rangepartitioning": "range",
    "SinglePartition": "single",
    "RoundRobinPartitioning": "roundrobin",
}
# tree prefix ("+- ", ":  +- "), codegen stage id ("*(3) "), node name
_NODE = re.compile(r"^[\s:|+-]*(?:\*\(\d+\)\s+)?([A-Za-z]+)\s?(.*)$")
_PYTHON = re.compile(r"Python|InPandas|InArrow")
_LOCATION = re.compile(r"Location: \w+\(\d+ paths\)\[([^,\]]+)")


def plan_text(df: DataFrame, mode: str = "simple") -> str:
    """The text ``df.explain(mode)`` prints, without printing it."""
    jvm = df.sparkSession.sparkContext._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _columns(read_schema: str) -> str:
    """Top-level field names of ``struct<a:int,b:array<struct<c:int>>>``."""
    body = read_schema[len("struct<"):-1]
    names, depth, start = [], 0, 0
    for i, ch in enumerate(body + ","):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            names.append(body[start:i].split(":", 1)[0])
            start = i + 1
    return ",".join(n for n in names if n)


def plan_facts(df: DataFrame) -> str:
    """One line of plan facts for ``df``; see the module docstring."""
    exchanges = Counter(dict.fromkeys(_KIND.values(), 0))
    python, scans = Counter(), Counter()
    broadcast = cached = 0
    for line in plan_text(df).splitlines():
        m = _NODE.match(line)
        if not m:
            continue
        node, rest = m.groups()
        if node == "Exchange":
            kind = re.match(r"\w+", rest).group(0)
            exchanges[_KIND.get(kind, kind.lower())] += 1
        elif node == "BroadcastExchange":
            broadcast += 1
        elif node == "InMemoryRelation":
            cached += 1
        elif _PYTHON.search(node):
            python[node] += 1
        elif node == "FileScan":
            path = _LOCATION.search(rest).group(1)
            if path.endswith("..."):
                raise ValueError(f"abbreviated scan location: {path}")
            table = os.path.basename(path.rstrip("/")).split(".")[0]
            schema = rest.rsplit("ReadSchema: ", 1)[1].strip()
            if not schema.endswith(">"):
                raise ValueError(f"abbreviated ReadSchema: {schema}")
            scans[f"{table}({_columns(schema)})"] += 1
    parts = [
        " ".join(f"{k}={n}" for k, n in exchanges.items())
        + f" broadcast={broadcast}",
        "python " + (" ".join(f"{k}={n}" for k, n in sorted(python.items()))
                     or "none"),
        f"cached={cached}",
        "scans " + (" ".join(f"{k}={n}" for k, n in sorted(scans.items()))
                    or "none"),
    ]
    return "; ".join(parts)
