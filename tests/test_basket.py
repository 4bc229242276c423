"""The market-basket family (``basket_queries``): one home per ``mb_``
query, the basket pair generator written once for the family, the graph
family and the scale smoke, and the item-CF, sequential-rule and NPMI
invariants."""

from __future__ import annotations

import ast
import re
from collections import defaultdict
from pathlib import Path

from atd_data_lake_spark import basket_queries as bq
from atd_data_lake_spark.basket_queries import (
    NPMI_MIN_N,
    mb_affinity_npmi,
    mb_item_cf_topk,
    mb_sequential_rules,
)
from atd_data_lake_spark.queries import ORACLES, QUERIES

PKG = Path(bq.__file__).parent
REPO = PKG.parent
_FAMILY_FN = re.compile(r"^mb_")
_FAMILY_SQL = re.compile(r"^_?MB_\w+_SQL$")


def test_family_defined_only_in_basket_module():
    family = [n for n in QUERIES if _FAMILY_FN.match(n)]
    assert sorted(family) == sorted(bq.BASKET_QUERIES)
    assert all(QUERIES[n] is bq.BASKET_QUERIES[n] for n in family)
    assert all(ORACLES[n] == bq.BASKET_ORACLES[n] for n in family)
    for path in PKG.rglob("*.py"):
        if path.name == "basket_queries.py":
            continue
        tree = ast.parse(path.read_text())
        fns = [
            n.name
            for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef)
            and (_FAMILY_FN.match(n.name) or n.name == "basket_count_slices")
        ]
        sqls = [
            t.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Assign)
            for t in n.targets
            if isinstance(t, ast.Name) and _FAMILY_SQL.match(t.id)
        ]
        assert not fns and not sqls, f"{path.name} defines {fns + sqls}"
    patches = re.findall(
        r"^ORACLES\[.*\] =", (PKG / "queries.py").read_text(), re.M
    )
    assert len(patches) <= 5


def test_no_module_imports_private_basket_names():
    for root in (PKG, REPO / "tests", REPO / "tools"):
        for path in root.rglob("*.py"):
            for n in ast.walk(ast.parse(path.read_text())):
                if isinstance(n, ast.ImportFrom) and n.module == (
                    "atd_data_lake_spark.basket_queries"
                ):
                    private = [a.name for a in n.names if a.name.startswith("_")]
                    assert not private, f"{path} imports {private}"


def test_basket_module_has_no_bare_persist():
    assert ".persist(" not in Path(bq.__file__).read_text()


def test_basket_pairs_written_once():
    """The pair generator and the oracles' basket CTE each have one
    home, shared by the graph family and the scale smoke."""
    src = "".join(
        p.read_text() for root in (PKG, REPO / "tools") for p in root.rglob("*.py")
    )
    assert src.count("slice(parts, _i + 2") == 1
    assert src.count("list_sort(list_distinct(list(l_partkey)))") == 1
    assert ORACLES["graph_triangles"].count(bq.BASKET_CTE) == 1
    assert ORACLES["mb_affinity_npmi"].count(bq.BASKET_CTE) == 1


def test_item_cf_cosine_bounds_and_ranks(spark, sf_dir):
    rows = mb_item_cf_topk(spark, sf_dir).collect()
    assert len(rows) > 0
    per = {}
    for r in rows:
        assert 0.0 < r["cos_sim"] <= 1.0
        assert r["rec"] != r["part"]
        per.setdefault(r["part"], []).append(r)
    for part, rs in per.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        sims = [r["cos_sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_mb_sequential_rules_confidence_partitions(spark, sf_dir):
    """Per prev_type the confidences sum to ~1 (they partition the
    successor distribution) and every transition count is positive."""
    rows = mb_sequential_rules(spark, sf_dir).collect()
    assert rows
    sums = defaultdict(float)
    for r in rows:
        assert r["n"] > 0 and 0.0 < r["confidence"] <= 1.0
        sums[r["prev_type"]] += r["confidence"]
    assert all(abs(s - 1.0) < 1e-3 for s in sums.values())


def test_mb_affinity_npmi_bounds(spark, sf_dir):
    rows = mb_affinity_npmi(spark, sf_dir).collect()
    assert rows
    scores = [r["npmi"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r["n_ab"] >= NPMI_MIN_N
        assert -1.0 - 1e-6 <= r["npmi"] <= 1.0 + 1e-6
