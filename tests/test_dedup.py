"""The dedup family (``dedup_queries``): one home per ``dedup_`` query,
the exact-Jaccard pair oracle and the incoming-batch split written once,
PassJoin's planted twins and short titles against the oracle, and the
loose MinHash banding's recall loss on mid-Jaccard pairs."""

from __future__ import annotations

import ast
import random
import re
from pathlib import Path

import duckdb

from atd_data_lake_spark import dedup_queries as dq
from atd_data_lake_spark.dedup_queries import (
    DEDUP_EDIT_DISTANCE_SQL,
    dedup_edit_distance,
    dedup_minhash_eval,
)
from atd_data_lake_spark.queries import ORACLES, QUERIES

PKG = Path(dq.__file__).parent
REPO = PKG.parent
_FAMILY_FN = re.compile(r"^dedup_")
_FAMILY_SQL = re.compile(r"^_?DEDUP_\w+_SQL$")


def _query_modules():
    """The registry modules; operators (``components.dedup_clusters``,
    ``windowed.dedup_stream``) are building blocks, not queries."""
    return [p for p in PKG.glob("*.py") if p.name.endswith("queries.py")]


def _late_oracle_patches() -> int:
    src = (PKG / "queries.py").read_text()
    return len(re.findall(r"^ORACLES\[.*\] =", src, re.M))


def test_family_defined_only_in_dedup_module():
    family = [n for n in QUERIES if _FAMILY_FN.match(n)]
    assert sorted(family) == sorted(dq.DEDUP_QUERIES)
    assert all(QUERIES[n] is dq.DEDUP_QUERIES[n] for n in family)
    assert all(ORACLES[n] == dq.DEDUP_ORACLES[n] for n in family)
    for path in _query_modules():
        if path.name == "dedup_queries.py":
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
    assert _late_oracle_patches() <= 5


def test_no_module_imports_private_dedup_names():
    for root in (PKG, REPO / "tests", REPO / "tools"):
        for path in root.rglob("*.py"):
            for n in ast.walk(ast.parse(path.read_text())):
                if isinstance(n, ast.ImportFrom) and n.module == (
                    "atd_data_lake_spark.dedup_queries"
                ):
                    private = [a.name for a in n.names if a.name.startswith("_")]
                    assert not private, f"{path} imports {private}"


def test_dedup_module_has_no_bare_persist():
    assert ".persist(" not in Path(dq.__file__).read_text()


def test_pair_oracle_and_batch_split_written_once():
    """The exact-Jaccard SELECT has one home, and no module spells the
    incoming-batch split ``% 10`` = 7 out by hand."""
    src = "".join(p.read_text() for p in PKG.rglob("*.py"))
    jaccard = "SELECT id_a, id_b, round(n * 1.0 / (sa.sz + sb.sz - n), 6) AS jaccard"
    assert src.count(jaccard) == 1
    assert not re.search(r"% 10 (==|!=|=|<>) 7", src)
    assert "doc_a % 10 = 7 OR doc_b % 10 = 7" in ORACLES["dedup_incremental_spans"]


def test_dedup_edit_distance_finds_planted_twins(spark, sf_dir):
    out = dedup_edit_distance(spark, sf_dir).collect()
    planted = [r for r in out if r["id_b"] >= 20_000_000]
    # twins differ from real titles by the one flipped char
    assert len(planted) > 0
    assert all(r["edit_dist"] == 1 for r in planted)
    # each twin's own source pair is among the results (a twin may ALSO
    # pair with other docs whose titles equal its source's — fine)
    pair_set = {(r["id_a"], r["id_b"]) for r in planted}
    sources = {r["id_b"] - 20_000_000 for r in planted}
    assert any((s, s + 20_000_000) in pair_set for s in sources)


def test_edit_distance_oracle_handles_short_titles(spark, tmp_path):
    """ADVICE r7: the oracle used to drop length<2 titles from BOTH join
    sides while passjoin_pairs lets them probe and completes the
    short-short class — latent divergence on any corpus with short
    titles.  A synthetic corpus with empty/1-char/2-char titles must now
    agree exactly."""
    rows = [(1, "a"), (2, "b"), (3, "ab"), (4, ""), (5, "abc def"),
            (7, "a"), (100, "xy")]
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = sorted(map(tuple, dedup_edit_distance(spark, str(tmp_path)).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"  # Spark writes a dir
    )
    exp = sorted(map(tuple, con.execute(DEDUP_EDIT_DISTANCE_SQL).fetchall()))
    assert got == exp
    assert (1, 2, 1) in got  # short-short: 'a' vs 'b'
    assert (1, 7, 0) in got  # short-short: identical 1-char titles
    assert (1, 3, 1) in got  # short PROBES the indexed 'ab'
    assert (100, 20000100, 1) in got  # planted twin still found


def test_minhash_eval_recall_loss_on_mid_jaccard_pairs(spark):
    """The loose 4x2 geometry MUST miss some mid-Jaccard pairs — the
    regime the registered query cannot show on exact-dup-only data.
    Synthetic docs share ~60% of shingles with a partner; at J~0.5-0.6
    the per-band hit probability is ~J^2 per band, miss probability
    ~(1-J^2)^4 ~ 20-40%, so with 40 planted pairs some misses are
    overwhelmingly likely — while exact dups are always caught."""
    rng = random.Random(36)
    vocab = [f"w{i}" for i in range(400)]
    rows = []
    truth_pairs = 0
    for i in range(40):
        base = [rng.choice(vocab) for _ in range(40)]
        partner = list(base)
        # overwrite a contiguous 8-token span: ~10 of 38 shingles
        # change => J ~ 0.55-0.6, per-band hit ~J^2, miss-all-4-bands
        # ~(1-J^2)^4 ~ 20% per pair — 40 pairs make misses certain
        start = rng.randrange(0, 32)
        for j in range(start, start + 8):
            partner[j] = rng.choice(vocab)
        rows.append((2 * i, " ".join(base)))
        rows.append((2 * i + 1, " ".join(partner)))
        truth_pairs += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")

    # run the same machinery the registered query uses, against the
    # same exact-jaccard truth, via a temp sf_dir-free harness
    orig = dq._t
    try:
        dq._t = lambda spark_, sf_, name_: df
        out = dedup_minhash_eval(spark, "unused").first()
    finally:
        dq._t = orig
    # there must BE mid-jaccard truth, and the loose banding must be
    # lossy on it (recall < 1) while never inventing hits
    assert out["n_truth"] > 0
    assert out["n_hits"] <= out["n_truth"]
    assert out["recall"] < 1.0
