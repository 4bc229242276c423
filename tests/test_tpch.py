"""The TPC-H/OLAP family (``tpch_queries``): one home per ``q<N>_`` and
``olap_`` query, the money formulas written once in ``functions.money``,
q5's same-nation predicate and q9's half-cent tie against its oracle."""

from __future__ import annotations

import ast
import datetime
import re
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from atd_data_lake_spark import tpch_queries as tq
from atd_data_lake_spark.queries import ORACLES, QUERIES

PKG = Path(tq.__file__).parent
REPO = PKG.parent
_FAMILY_FN = re.compile(r"^(q\d+_|olap_)")
_FAMILY_SQL = re.compile(r"^(Q\d+_SQL|OLAP_\w+_SQL)$")


def _assigned(tree: ast.AST) -> list[str]:
    return [
        t.id
        for n in ast.walk(tree)
        if isinstance(n, ast.Assign)
        for t in n.targets
        if isinstance(t, ast.Name)
    ]


def test_family_defined_only_in_tpch_module():
    family = [n for n in QUERIES if _FAMILY_FN.match(n)]
    assert sorted(family) == sorted(tq.TPCH_QUERIES)
    assert all(QUERIES[n] is tq.TPCH_QUERIES[n] for n in family)
    assert all(ORACLES[n] == tq.TPCH_ORACLES[n] for n in family)
    for path in PKG.rglob("*.py"):
        tree = ast.parse(path.read_text())
        if path.name != "tpch_queries.py":
            fns = [
                n.name
                for n in ast.walk(tree)
                if isinstance(n, ast.FunctionDef) and _FAMILY_FN.match(n.name)
            ]
            sqls = [a for a in _assigned(tree) if _FAMILY_SQL.match(a)]
            assert not fns and not sqls, f"{path.name} defines {fns + sqls}"
        if path.name != "money.py":
            money = [a for a in _assigned(tree) if a in {"D2", "_REVENUE_SQL"}]
            money += [
                n.name
                for n in ast.walk(tree)
                if isinstance(n, ast.FunctionDef) and n.name == "_revenue"
            ]
            assert not money, f"{path.name} defines {money}"


def test_no_module_imports_private_tpch_names():
    for root in (PKG, REPO / "tests", REPO / "tools"):
        for path in root.rglob("*.py"):
            for n in ast.walk(ast.parse(path.read_text())):
                if isinstance(n, ast.ImportFrom) and n.module == (
                    "atd_data_lake_spark.tpch_queries"
                ):
                    private = [a.name for a in n.names if a.name.startswith("_")]
                    assert not private, f"{path} imports {private}"


def test_tpch_module_has_no_bare_persist():
    assert ".persist(" not in Path(tq.__file__).read_text()


def _docstrings(tree: ast.AST) -> set[int]:
    return {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef))
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }


def test_money_formula_written_once_in_engine():
    src = "".join(p.read_text() for p in PKG.rglob("*.py"))
    assert src.count('F.lit(1).cast("decimal(3,2)") -') == 1
    assert src.count("D2 =") == 1
    # the Spark-side money type is spelled only in functions/money.py
    spelled = []
    for path in PKG.rglob("*.py"):
        if path.name == "money.py":
            continue
        tree = ast.parse(path.read_text())
        docs = _docstrings(tree)
        spelled += [
            f"{path.name}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and "decimal(12,2)" in n.value
            and id(n) not in docs
        ]
    assert not spelled, spelled


def test_q5_same_nation_only(spark, sf_dir):
    """Q5's defining predicate: revenue only counts customer+supplier
    same-nation lineitems — every output nation must be an ASIA nation
    and revenues must be positive, ordered desc."""
    rows = QUERIES["q5_local_supplier_volume"](spark, sf_dir).collect()
    assert rows, "ASIA-1996 slice must be non-empty"
    revs = [r["revenue"] for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert all(r["revenue"] > 0 for r in rows)


def _write(dirpath: Path, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), dirpath / f"{name}.parquet")


def test_q9_half_cent_profit_matches_oracle(spark, tmp_path):
    """Two (nation, year) groups whose exact profit is ±1274494.775: as
    a double that is just below the half-cent tie, where Spark's
    round(double) gives .78 and DuckDB's .77.  Rounding the decimal
    first gives ±.78 in both engines."""
    day = [datetime.datetime(1996, 3, 1), datetime.datetime(1997, 3, 1)]
    _write(tmp_path, "nation", {
        "n_nationkey": pa.array([1, 2], pa.int32()),
        "n_name": ["NATION_1", "NATION_2"],
        "n_regionkey": pa.array([0, 0], pa.int32()),
    })
    _write(tmp_path, "supplier", {
        "s_suppkey": pa.array([1, 2], pa.int64()),
        "s_name": ["S1", "S2"],
        "s_nationkey": pa.array([1, 2], pa.int32()),
        "s_acctbal": [0.0, 0.0],
    })
    _write(tmp_path, "part", {
        "p_partkey": pa.array([1, 2], pa.int64()),
        "p_name": ["blue widget", "red widget"],
        "p_retailprice": [0.0, 2124158.0],
    })
    _write(tmp_path, "orders", {
        "o_orderkey": pa.array([1, 2], pa.int64()),
        "o_orderdate": pa.array(day, pa.timestamp("us")),
    })
    # group 1: 2548989.55 * (1 - 0.50) - 0 = 1274494.775
    # group 2: 0.05 * (1 - 0.50) - 0.60 * 2124158.00 * 1 = -1274494.775
    _write(tmp_path, "lineitem", {
        "l_orderkey": pa.array([1, 2, 2], pa.int64()),
        "l_partkey": pa.array([1, 1, 2], pa.int64()),
        "l_suppkey": pa.array([1, 2, 2], pa.int64()),
        "l_quantity": [1.0, 0.0, 1.0],
        "l_extendedprice": [2548989.55, 0.05, 0.0],
        "l_discount": [0.5, 0.5, 0.0],
    })
    got = {
        (r["nation"], r["o_year"]): r["profit"]
        for r in QUERIES["q9_product_profit"](spark, str(tmp_path)).collect()
    }
    con = duckdb.connect()
    for t in ("nation", "supplier", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tmp_path}/{t}.parquet'")
    want = {
        (nation, year): profit
        for nation, year, profit in con.execute(
            f"SELECT nation, o_year, profit FROM ({ORACLES['q9_product_profit']})"
        ).fetchall()
    }
    assert got == want
    assert want == {
        ("NATION_1", 1996): 1274494.78,
        ("NATION_2", 1997): -1274494.78,
    }
