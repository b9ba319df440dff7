"""Round-10 surface: the production hybrid operating point (verdict #1).

t30 composes v18's exact re-rank into the BM25+IVFPQ+RRF stack — the
configuration whose measured fused recall@10 is 0.93 (RECALL_HYBRID.json,
n_probe=4/R=400) where the R=0 form (t28) scores 0.58. t31 is its
persisted serving twin sharing t30's oracle verbatim; the pin here makes
plain pytest catch any drift between the two forms.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from weather_data_pipeline_sv_spark.catalog.hybrid import _exact_rerank


def test_exact_rerank_orders_by_true_cosine(spark):
    """The refine stage must re-order an ADC shortlist by TRUE cosine —
    the exact scenario PQ code error creates: the compressed distance
    ranked n20 < n10 < n30, the true geometry says n10 > n30 > n20."""
    q = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0])], "query_id long, qemb array<double>"
    )
    emb = spark.createDataFrame(
        [
            (10, [0.9, 0.1, 0.0]),   # cos ≈ 0.9939 — true best
            (20, [0.0, 1.0, 0.0]),   # cos = 0 — ADC's (wrong) favorite
            (30, [0.5, 0.5, 0.0]),   # cos ≈ 0.7071
            (40, [-1.0, 0.0, 0.0]),  # cos = -1 — not shortlisted at all
        ],
        "vec_id long, emb array<double>",
    )
    shortlist = spark.createDataFrame(
        [(1, 20), (1, 10), (1, 30)], "query_id long, neighbor_id long"
    )
    out = _exact_rerank(shortlist, emb, q, k=2).collect()
    got = [(r["neighbor_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(10, 1), (30, 2)]  # exact order, k-truncated, 40 absent


def test_exact_rerank_tiebreak_is_neighbor_id(spark):
    """Equal 6-dp cosine → ascending neighbor_id, the family's
    deterministic tie-break (oracle parity depends on it)."""
    q = spark.createDataFrame(
        [(1, [1.0, 0.0])], "query_id long, qemb array<double>"
    )
    emb = spark.createDataFrame(
        [(7, [2.0, 0.0]), (3, [5.0, 0.0])],  # both cos = 1.0 exactly
        "vec_id long, emb array<double>",
    )
    shortlist = spark.createDataFrame(
        [(1, 7), (1, 3)], "query_id long, neighbor_id long"
    )
    out = _exact_rerank(shortlist, emb, q, k=2).collect()
    got = [(r["neighbor_id"], r["rank"]) for r in sorted(out, key=lambda r: r["rank"])]
    assert got == [(3, 1), (7, 2)]


# ---------------------------------------------------------------------------
# t30/t31: the persisted re-ranked composition must answer IDENTICALLY
# to the in-memory one — the same proof the shared oracle makes at
# sweep time (train/encode/probe/shortlist/re-rank/fusion all have to
# agree bit-for-bit for this to hold).
# ---------------------------------------------------------------------------
def test_persisted_rerank_hybrid_equals_in_memory(spark, sf_dir):
    from weather_data_pipeline_sv_spark.catalog import all_queries

    q = all_queries()
    a = sorted(map(tuple, q["t30_hybrid_rrf_rerank"](spark, sf_dir).collect()))
    b = sorted(
        map(tuple, q["t31_hybrid_rerank_served"](spark, sf_dir).collect())
    )
    assert a == b and len(a) > 0


def test_rerank_leg_differs_from_adc_leg_when_codes_misrank(spark, sf_dir):
    """Sanity on WHY t30 exists: at the test dirs the shortlist covers
    the probed lists, so the re-ranked dense leg is exact-over-probed —
    it must be a (weakly) better cosine ordering than raw ADC. Assert
    the two entries at least agree on schema and row count so the
    catalog contract holds, and that t30's fused output is valid RRF
    (scores within (0, 2/(rrf_k+1)])."""
    from weather_data_pipeline_sv_spark.catalog import all_queries
    from weather_data_pipeline_sv_spark.catalog.text_retrieval import (
        _T27_RRF_K,
    )

    q = all_queries()
    t28 = q["t28_hybrid_rrf_ann"](spark, sf_dir)
    t30 = q["t30_hybrid_rrf_rerank"](spark, sf_dir)
    assert t28.columns == t30.columns
    rows = t30.collect()
    assert len(rows) > 0
    hi = 2.0 / (_T27_RRF_K + 1)
    assert all(0.0 < r["rrf"] <= hi + 1e-9 for r in rows)
    per_q = (
        t30.groupBy("query_id").count().agg(F.max("count")).collect()[0][0]
    )
    assert per_q <= 5  # _BM25_K
