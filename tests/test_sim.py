"""The sim family (``sim_queries``): one home per ``sim_`` query; the
loaded models, the exact top-k, the per-batch top-k and the IVF/LSH/PQ
oracle CTEs written once; null-safe model loading against the oracles;
and the query-level invariants of ADC, IVFADC, hard negatives, MIPS and
the IVF upsert."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from atd_data_lake_spark import sim_queries as sq
from atd_data_lake_spark.io.reader import read_table
from atd_data_lake_spark.queries import ORACLES, QUERIES
from atd_data_lake_spark.sim_queries import (
    sim_ann_ivfpq,
    sim_ann_pq_adc,
    sim_hard_negatives,
    sim_ivf_upsert,
    sim_maxdot_topk,
)

PKG = Path(sq.__file__).parent
REPO = PKG.parent
_FAMILY_FN = re.compile(r"^sim_")
_FAMILY_SQL = re.compile(r"^_?SIM_\w+_SQL$")
# the family plus the two embedding queries built on its shared pieces
_VECTOR_QUERIES = sorted(sq.SIM_QUERIES) + ["emb_kmeans_assign", "emb_pq_codes"]


def _engine_src() -> str:
    return "".join(p.read_text() for p in PKG.rglob("*.py"))


def test_family_defined_only_in_sim_module():
    family = [n for n in QUERIES if _FAMILY_FN.match(n)]
    assert sorted(family) == sorted(sq.SIM_QUERIES)
    assert all(QUERIES[n] is sq.SIM_QUERIES[n] for n in family)
    assert all(ORACLES[n] == sq.SIM_ORACLES[n] for n in family)
    for path in PKG.rglob("*.py"):
        if path.name == "sim_queries.py":
            continue
        tree = ast.parse(path.read_text())
        fns = [
            n.name
            for n in ast.walk(tree)
            if isinstance(n, ast.FunctionDef) and _FAMILY_FN.match(n.name)
        ]
        sqls = [
            t.id
            for n in ast.walk(tree)
            if isinstance(n, ast.Assign)
            for t in n.targets
            if isinstance(t, ast.Name) and _FAMILY_SQL.match(t.id)
        ]
        assert not fns and not sqls, f"{path.name} defines {fns + sqls}"
    assert not (PKG / "round37_queries.py").exists()


def test_no_module_imports_private_sim_names():
    for root in (PKG, REPO / "tests", REPO / "tools"):
        for path in root.rglob("*.py"):
            for n in ast.walk(ast.parse(path.read_text())):
                if isinstance(n, ast.ImportFrom) and n.module == (
                    "atd_data_lake_spark.sim_queries"
                ):
                    private = [a.name for a in n.names if a.name.startswith("_")]
                    assert not private, f"{path} imports {private}"


def test_sim_module_has_no_bare_persist():
    assert ".persist(" not in Path(sq.__file__).read_text()


@pytest.mark.parametrize(
    "piece",
    [
        # Spark side: model collect, query panel, PQ encoder, ADC sum,
        # per-batch top-k, probe sort
        '.select("vec_id", "embedding", *extra)',
        '.select(F.col("vec_id").alias("query_id"), "embedding")',
        "np.sqrt(((xs[:, None, :] - cs[None, :, :]) ** 2).sum(axis=2))",
        "adc += lut[:, s, codes[:, s]]",
        "np.lexsort((cand_ids, key))",
        "np.lexsort((cids, -row))",
        # oracle side: vector source, assign, probes, re-rank, LSH, PQ
        "CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings",
        "FROM ev e CROSS JOIN cent",
        "FROM q CROSS JOIN cent",
        "JOIN ev e ON e.vec_id = c.neighbor_id",
        "CAST(sum(bit * (1 << (pidx %",
        "v[s * 8 + 1 : s * 8 + 8]",
        "round(list_distance(sl.sv, cb.cv), 6)",
    ],
)
def test_shared_piece_written_once(piece):
    assert _engine_src().count(piece) == 1


def test_no_per_query_model_or_probe_copies():
    """The forms the shared pieces replaced: per-query ``list(r[1])``
    model rows, a Python-sorted probe list, and hand-built LUT arrays."""
    src = _engine_src()
    assert "list(r[1])" not in src
    assert "key=lambda j: (-" not in src
    assert "lut = np.zeros(" not in src


@pytest.mark.parametrize("name", _VECTOR_QUERIES)
def test_oracle_reads_embeddings_only_through_ev(name):
    assert sq.VECTORS_CTE in ORACLES[name]
    assert ORACLES[name].count("embeddings") == 1


def _null_corner_table(path: Path) -> str:
    """130 random 64-dim vectors (model rows, panel, LSH planes at
    100..115) with a null model row (vec_id 7), a null query-panel row
    (vec_id 2) and an empty corpus vector (vec_id 40)."""
    rng = np.random.default_rng(11)
    vecs = [rng.standard_normal(64).astype(np.float32).tolist() for _ in range(130)]
    vecs[7] = None
    vecs[2] = None
    vecs[40] = []
    table = pa.table(
        {
            "vec_id": pa.array(range(130), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in range(130)], pa.int32()),
        }
    )
    pq.write_table(table, path / "embeddings.parquet")
    return str(path)


def _key(row):
    return tuple(
        (v is not None, round(v, 9) if isinstance(v, float) else v) for v in row
    )


def _spark_and_oracle(spark, sf: str, name: str):
    sdf = QUERIES[name](spark, sf)
    cols = sorted(sdf.columns)
    got = sorted(map(_key, sdf.select(*cols).collect()))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'")
    sql = f"SELECT {', '.join(cols)} FROM ({ORACLES[name]})"
    return cols, got, sorted(map(_key, con.execute(sql).fetchall()))


def test_sim_ann_ivf_null_model_and_panel_rows_match_oracle(spark, tmp_path):
    """A null model row, a null query-panel row and an empty corpus
    vector are dropped on both sides: the loaded model and the panel
    skip them like the oracle's ``ev`` source does (the model collect
    used to crash on the null row in ``list(r[1])``)."""
    cols, got, want = _spark_and_oracle(
        spark, _null_corner_table(tmp_path), "sim_ann_ivf"
    )
    assert got == want
    assert {r[cols.index("query_id")][1] for r in got} == {0, 1, 3, 4}


@pytest.mark.parametrize(
    "name", [n for n in _VECTOR_QUERIES if n != "sim_ann_ivf"]
)
def test_null_model_and_panel_rows_match_oracle(spark, tmp_path, name):
    _, got, want = _spark_and_oracle(spark, _null_corner_table(tmp_path), name)
    assert got and got == want


def test_ivfpq_ranked_and_deterministic(spark, sf_dir):
    rows = sim_ann_ivfpq(spark, sf_dir).collect()
    assert len(rows) > 0
    per = {}
    for r in rows:
        per.setdefault(r["query_id"], []).append(r)
    for q, rs in per.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists)
        assert all(r["neighbor_id"] != q for r in rs)
    again = sorted(map(tuple, sim_ann_ivfpq(spark, sf_dir).collect()))
    assert sorted(map(tuple, rows)) == again


def test_ivfpq_candidates_subset_of_exhaustive_adc(spark, sf_dir):
    """IVFADC scores only probed cells, so each of its results must
    appear in the EXHAUSTIVE ADC scan's scored set with the SAME
    distance — probing changes the candidate set, never a score."""
    ivfpq = sim_ann_ivfpq(spark, sf_dir).collect()
    # exhaustive top-10 may differ (more candidates), but any overlap
    # pair must carry identical adc_dist
    full = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in sim_ann_pq_adc(spark, sf_dir).collect()
    }
    overlap = 0
    for r in ivfpq:
        key = (r["query_id"], r["neighbor_id"])
        if key in full:
            overlap += 1
            assert full[key] == r["adc_dist"]
    assert overlap > 0  # probing 4/16 cells still finds shared winners


def test_adc_ranked_and_deterministic(spark, sf_dir):
    out = sim_ann_pq_adc(spark, sf_dir)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    for q, rs in per_q.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        dists = [r["adc_dist"] for r in rs]
        assert dists == sorted(dists)
        assert all(r["neighbor_id"] != q for r in rs)
    again = sorted(map(tuple, sim_ann_pq_adc(spark, sf_dir).collect()))
    assert sorted(map(tuple, rows)) == again


def test_adc_codebook_vectors_self_distance_zero(spark, sf_dir):
    """A codebook vector IS one of the 16 model rows, so its own coded
    reconstruction per subspace has distance 0 — its ADC distance as a
    corpus member against ITSELF-as-query would be 0.  Verify via the
    registered query: query 0 (vec_id 0 < 16 is a codebook row) must
    rank some neighbor with adc_dist strictly > 0 and never negative."""
    rows = sim_ann_pq_adc(spark, sf_dir).where(F.col("query_id") == 0).collect()
    assert len(rows) > 0
    assert all(r["adc_dist"] >= 0.0 for r in rows)


def test_hard_negatives_respect_label_gate(spark, sf_dir):
    out = sim_hard_negatives(spark, sf_dir).collect()
    labels = {
        r["vec_id"]: r["label"]
        for r in read_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    assert len(out) > 0
    for r in out:
        assert labels[r["neighbor_id"]] != labels[r["anchor_id"]]
        assert r["neighbor_id"] != r["anchor_id"]
    # ranks are 1..k and cosine non-increasing within each anchor
    per = {}
    for r in out:
        per.setdefault(r["anchor_id"], []).append(r)
    for rs in per.values():
        rs.sort(key=lambda r: r["rank"])
        sims = [r["cos_sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_sim_maxdot_topk_agrees_with_numpy(spark, sf_dir):
    """The distributed MIPS result must equal a local numpy
    brute-force over the same vectors (rank, id, rounded dot)."""
    rows = sim_maxdot_topk(spark, sf_dir).collect()
    assert rows
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in read_table(spark, sf_dir, "embeddings").collect()
    }
    for qid in {r["query_id"] for r in rows}:
        got = [
            (r["rank"], r["neighbor_id"], r["dot"])
            for r in sorted(rows, key=lambda r: r["rank"])
            if r["query_id"] == qid
        ]
        dots = sorted(
            (
                (-float(np.dot(emb[qid], v)), nid)
                for nid, v in emb.items()
                if nid != qid
            ),
        )[: len(got)]
        want = [
            (i + 1, nid, round(-d, 6)) for i, (d, nid) in enumerate(dots)
        ]
        assert [(g[0], g[1]) for g in got] == [(w[0], w[1]) for w in want]
        assert all(abs(g[2] - w[2]) < 1e-5 for g, w in zip(got, want))


def test_ivf_upsert_plan_shape(spark, sf_dir):
    """Registry query plan: anti-join + two rollups + full join — the
    assignment is exactly two Arrow map stages (standing + added;
    centroid scoring is the documented pandas vector-math exception,
    zero-shuffle either way)."""
    from atd_data_lake_spark.plancheck import count_python_stages

    df = sim_ivf_upsert(spark, sf_dir)
    assert count_python_stages(df) == 2
