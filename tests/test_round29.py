"""Round-29 operator tests: URL/domain curation, model-injected ANN
(LSH planes / IVF quantizer), incremental IVF upsert."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from atd_data_lake_spark.io.reader import read_table


# ---------------------------------------------------------------------------
# URL / domain operators
# ---------------------------------------------------------------------------


def test_registrable_domain_cases(spark):
    from atd_data_lake_spark.operators.urls import registrable_domain

    df = spark.createDataFrame(
        [
            ("www.example.com", "example.com"),
            ("cdn.static.news.co.uk", "news.co.uk"),
            ("example.co.uk", "example.co.uk"),
            ("blog.shop.com.au", "shop.com.au"),
            ("example.org", "example.org"),
            ("localhost", "localhost"),  # single label passes through
            ("a.b.c.d.example.com", "example.com"),
        ],
        "host string, expected string",
    )
    out = df.select("expected", registrable_domain(F.col("host")).alias("rd"))
    assert all(r.rd == r.expected for r in out.collect())


def test_url_parts_and_query_params(spark):
    from atd_data_lake_spark.operators.urls import (
        path_depth,
        url_parts,
        with_query_params,
    )

    df = spark.createDataFrame(
        [
            (1, "https://www.example.com/a/b?utm_source=x&page=2"),
            (2, "https://example.org/"),
            (3, "https://sub.example.co.uk/a/b/c"),
        ],
        "id long, url string",
    )
    out = {
        r.id: r
        for r in with_query_params(url_parts(df, "url"))
        .select(
            "id",
            "host",
            path_depth(F.col("path")).alias("depth"),
            "n_params",
            "has_tracking",
            "clean_query",
        )
        .collect()
    }
    assert out[1].host == "www.example.com"
    assert out[1].depth == 2
    assert out[1].n_params == 2
    assert out[1].has_tracking is True
    assert out[1].clean_query == "page=2"
    assert out[2].depth == 0
    assert out[2].n_params == 0
    assert out[2].has_tracking is False
    assert out[2].clean_query == ""
    assert out[3].depth == 3


def test_domain_rollup_keep_gate(spark):
    from atd_data_lake_spark.operators.urls import domain_quality_rollup

    rows = (
        # big.com: 4 docs, 2 en -> frac 0.5 -> keep
        [("big.com", f"h{i}.big.com", "en" if i < 2 else "de", 100) for i in range(4)]
        # small.com: 2 docs (< min_docs) -> drop
        + [("small.com", "www.small.com", "en", 50)] * 2
        # nonen.com: 3 docs, 0 en -> drop
        + [("nonen.com", "www.nonen.com", "fr", 10)] * 3
    )
    df = spark.createDataFrame(
        rows, "reg_domain string, host string, lang string, n_chars long"
    )
    out = {r.reg_domain: r for r in domain_quality_rollup(df).collect()}
    assert out["big.com"].keep is True
    assert out["big.com"].n_hosts == 4
    assert out["big.com"].lang_frac == 0.5
    assert out["small.com"].keep is False
    assert out["nonen.com"].keep is False
    assert out["nonen.com"].total_chars == 30


def test_url_extract_plan_is_map_only(spark, sf_dir):
    """The per-page derivation must stay a zero-shuffle, zero-Python
    map over the scan (100 TB contract)."""
    from atd_data_lake_spark.plancheck import count_exchanges, count_python_stages
    from atd_data_lake_spark.round29_queries import (
        url_domain_extract,
        url_domain_rollup,
    )

    ext = url_domain_extract(spark, sf_dir)
    assert count_exchanges(ext) == 0
    assert count_python_stages(ext) == 0
    roll = url_domain_rollup(spark, sf_dir)
    # 2 = the distinct-agg two-phase (partial by (domain, host), final by
    # domain) — the scale-correct plan for an EXACT distinct-host count;
    # hub domains never materialize a per-group set.  (approx_count_
    # distinct would be 1 exchange but breaks the exact oracle.)
    assert count_exchanges(roll) == 2
    assert count_python_stages(roll) == 0


# ---------------------------------------------------------------------------
# Model-injected ANN
# ---------------------------------------------------------------------------


def test_lsh_topk_rejects_bad_band_geometry(spark):
    from atd_data_lake_spark.operators.similarity import lsh_topk

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)], "vec_id long, embedding array<float>"
    )
    q = df.selectExpr("vec_id as query_id", "embedding")
    planes = np.ones((6, 2))
    with pytest.raises(ValueError, match="must divide"):
        lsh_topk(df, q, planes=planes, bands=4)


def test_plane_bits_cosine6_matches_dot_off_boundary():
    from atd_data_lake_spark.operators.similarity import _plane_bits

    rng = np.random.default_rng(7)
    mat = rng.standard_normal((50, 8))
    planes = rng.standard_normal((6, 8))
    dot = _plane_bits(mat, planes, "dot")
    cos = _plane_bits(mat, planes, "cosine6")
    # cosine rescales by positive norms: signs agree except within
    # 1e-6 of the boundary — none of these random values sit there
    assert (dot == cos).all()


def test_ivf_topk_model_full_probe_equals_exact(spark, sf_dir):
    """With n_probe == n_cells every cell is probed, so the model-driven
    IVF must return exactly the brute-force top-k."""
    from atd_data_lake_spark.operators.similarity import (
        cosine_topk,
        ivf_topk_model,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    model = [
        (int(r[0]), list(r[1]))
        for r in emb.filter("vec_id < 8").orderBy("vec_id").collect()
    ]
    q = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = ivf_topk_model(emb, q, model, k=5, n_probe=8)
    exact = cosine_topk(emb, q, k=5)
    a = sorted(tuple(r) for r in approx.collect())
    e = sorted(tuple(r) for r in exact.collect())
    assert a == e


def test_ivf_topk_model_deterministic(spark, sf_dir):
    from atd_data_lake_spark.operators.similarity import ivf_topk_model

    emb = read_table(spark, sf_dir, "embeddings")
    model = [
        (int(r[0]), list(r[1]))
        for r in emb.filter("vec_id < 16").orderBy("vec_id").collect()
    ]
    q = emb.filter("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    r1 = sorted(tuple(r) for r in ivf_topk_model(emb, q, model, k=5, n_probe=4).collect())
    r2 = sorted(tuple(r) for r in ivf_topk_model(emb, q, model, k=5, n_probe=4).collect())
    assert r1 == r2 and r1


# ---------------------------------------------------------------------------
# Incremental IVF upsert
# ---------------------------------------------------------------------------


def _unit(angle_deg: float) -> list[float]:
    import math

    a = math.radians(angle_deg)
    return [math.cos(a), math.sin(a)]


def test_ivf_upsert_planted(spark):
    """Planted 2-D scenario: two centroids at 0° and 90°; the incoming
    batch re-delivers every standing id (must be ignored) plus three new
    vectors — two near cell 0, one near cell 1."""
    from atd_data_lake_spark.operators.similarity import ivf_upsert

    centroids = [(0, _unit(0.0)), (1, _unit(90.0))]
    standing = spark.createDataFrame(
        [(10, 0), (11, 0), (12, 1)], "vec_id long, centroid_id long"
    )
    incoming = spark.createDataFrame(
        [
            (10, _unit(5.0)),   # replayed id — must NOT be re-assigned
            (11, _unit(2.0)),
            (12, _unit(88.0)),
            (20, _unit(10.0)),  # new -> cell 0
            (21, _unit(350.0)),  # new -> cell 0
            (22, _unit(80.0)),  # new -> cell 1
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r.centroid_id: r for r in ivf_upsert(standing, incoming, centroids).collect()}
    assert out[0].n_standing == 2 and out[0].n_added == 2 and out[0].n_total == 4
    assert out[1].n_standing == 1 and out[1].n_added == 1 and out[1].n_total == 2
    # added_sim_sum: only the NEW member's similarity (cos 10°; the
    # vectors are float32 columns, so allow a couple of 6th-dp ulps)
    assert out[1].added_sim_sum == pytest.approx(
        float(np.cos(np.radians(10.0))), abs=2e-6
    )


def test_ivf_upsert_cell_with_no_additions_survives(spark):
    from atd_data_lake_spark.operators.similarity import ivf_upsert

    centroids = [(0, _unit(0.0)), (1, _unit(90.0))]
    standing = spark.createDataFrame(
        [(10, 0), (12, 1)], "vec_id long, centroid_id long"
    )
    incoming = spark.createDataFrame(
        [(20, _unit(1.0))], "vec_id long, embedding array<float>"
    )
    out = {r.centroid_id: r for r in ivf_upsert(standing, incoming, centroids).collect()}
    assert out[1].n_added == 0 and out[1].n_total == 1
    assert out[1].added_sim_sum == 0.0
    assert out[0].n_added == 1


# ---------------------------------------------------------------------------
# Line-level dedup
# ---------------------------------------------------------------------------


def test_line_level_dedup_planted(spark):
    """Planted boilerplate: a 10-word banner shared by all three docs is
    dropped everywhere; unique content lines survive byte-for-byte."""
    import hashlib

    from atd_data_lake_spark.operators.text import line_level_dedup

    banner = "cookie notice please accept all our terms of service today"
    uniq = {
        1: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        2: "one two three four five six seven eight nine ten",
        3: "red orange yellow green blue indigo violet black white gray",
    }
    df = spark.createDataFrame(
        [(i, banner + " " + uniq[i]) for i in uniq],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_level_dedup(df, max_df=2).collect()}
    for i in uniq:
        assert out[i].n_lines == 2
        assert out[i].n_dropped == 1  # the banner
        assert out[i].n_kept == 1
        assert out[i].clean_md5 == hashlib.md5(uniq[i].encode()).hexdigest()


def test_line_level_dedup_doc_of_only_boilerplate(spark):
    """A doc consisting ENTIRELY of boilerplate keeps zero lines and its
    clean_md5 is the md5 of the empty string on both engines."""
    import hashlib

    from atd_data_lake_spark.operators.text import line_level_dedup

    banner = "cookie notice please accept all our terms of service today"
    df = spark.createDataFrame(
        [(1, banner), (2, banner), (3, "unique words only here now there then when why how")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_level_dedup(df, max_df=2).collect()}
    assert out[1].n_kept == 0
    assert out[1].clean_md5 == hashlib.md5(b"").hexdigest()
    assert out[3].n_kept == 1


def test_line_dedup_plan_two_big_exchanges(spark, sf_dir):
    """Scale contract: one exchange for the line-df groupBy (reused by
    the join back on the same key), one for the per-doc reassembly."""
    from atd_data_lake_spark.plancheck import count_exchanges, count_python_stages
    from atd_data_lake_spark.round29_queries import text_line_dedup

    df = text_line_dedup(spark, sf_dir)
    assert count_exchanges(df) <= 3
    assert count_python_stages(df) == 0


def test_url_canonical_dedup_collapses_tracking_variants(spark):
    """Two URLs differing only by utm_* params share a canonical form."""
    from atd_data_lake_spark.operators.urls import url_parts, with_query_params

    df = spark.createDataFrame(
        [
            (1, "https://www.example.com/a?utm_source=x&id=7"),
            (2, "https://www.example.com/a?id=7&utm_medium=rss"),
            (3, "https://www.example.com/a?id=8"),
        ],
        "doc_id long, url string",
    )
    p = with_query_params(url_parts(df, "url"))
    canon = F.concat(
        F.lit("https://"), F.col("host"), F.col("path"),
        F.when(F.col("clean_query") != "",
               F.concat(F.lit("?"), F.col("clean_query"))).otherwise(F.lit("")),
    )
    out = (
        p.groupBy(canon.alias("c"))
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("kept"))
        .collect()
    )
    by_c = {r.c: r for r in out}
    assert by_c["https://www.example.com/a?id=7"].n == 2
    assert by_c["https://www.example.com/a?id=7"].kept == 1
    assert by_c["https://www.example.com/a?id=8"].n == 1


# ---------------------------------------------------------------------------
# Portable SimHash
# ---------------------------------------------------------------------------


def test_simhash_portable_signature_pinned(spark):
    """The portable signature must equal a straight reference
    implementation (md5-prefix 52-bit token hash, ±1 votes per bit,
    strict >0 sign) — the contract the DuckDB oracle re-derives."""
    import hashlib

    from atd_data_lake_spark.operators.dedup import simhash_signature_portable

    texts = {1: "a b c a", 2: "x y z", 3: ""}
    df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    out = {
        r._id: r._sh
        for r in simhash_signature_portable(df, n_bits=48).collect()
    }

    def ref(text):
        votes = [0] * 48
        for tok in text.split(" "):
            h = int(hashlib.md5(tok.encode()).hexdigest()[:13], 16)
            for b in range(48):
                votes[b] += 1 if (h >> b) & 1 else -1
        return sum(1 << b for b in range(48) if votes[b] > 0)

    for i, t in texts.items():
        assert out[i] == ref(t), i


def test_simhash_near_dups_injected_signature_pigeonhole(spark):
    """Injected 48-bit signatures: pairs within Hamming 3 are all found
    (pigeonhole over 4 x 12-bit blocks), farther pairs are not."""
    from pyspark.sql import functions as F  # noqa: F811

    from atd_data_lake_spark.operators.dedup import simhash_near_dups

    base = (1 << 47) | (1 << 20) | 0b1111
    sig = spark.createDataFrame(
        [
            (1, base),
            (2, base ^ 0b0111),          # hamming 3 -> pair
            (3, base ^ (1 << 13) ^ (1 << 25) ^ (1 << 37) ^ (1 << 45)),  # 4 -> no
        ],
        "_id long, _sh long",
    )
    docs = spark.createDataFrame([(1, "x"), (2, "x"), (3, "x")], "doc_id long, text string")
    out = sorted(
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_near_dups(
            docs, max_hamming=3, block_bits=12, signature=sig, hash_bits=48
        ).collect()
    )
    assert out == [(1, 2, 3)]


def test_ivf_upsert_intra_batch_duplicate_counts_once(spark):
    """r6 review: an id re-delivered twice WITHIN one incoming batch is
    one vector — n_added and the sim sum must not double."""
    from atd_data_lake_spark.operators.similarity import ivf_upsert

    centroids = [(0, _unit(0.0)), (1, _unit(90.0))]
    standing = spark.createDataFrame([(10, 0)], "vec_id long, centroid_id long")
    incoming = spark.createDataFrame(
        [(20, _unit(10.0)), (20, _unit(10.0))],
        "vec_id long, embedding array<float>",
    )
    out = {r.centroid_id: r for r in ivf_upsert(standing, incoming, centroids).collect()}
    assert out[0].n_added == 1
    assert out[0].n_total == 2
    import numpy as np  # noqa: F811

    assert abs(out[0].added_sim_sum - float(np.cos(np.radians(10.0)))) < 2e-6


def test_simhash_injected_signature_requires_hash_bits(spark):
    """r6 review: blocking a 48-bit signature with the 64-bit default
    would make the top block a universal bucket (quadratic join) —
    hash_bits is required alongside signature."""
    import pytest as _pytest

    from atd_data_lake_spark.operators.dedup import simhash_near_dups

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    sig = spark.createDataFrame([(1, 7)], "_id long, _sh long")
    with _pytest.raises(ValueError, match="hash_bits"):
        simhash_near_dups(docs, signature=sig)
