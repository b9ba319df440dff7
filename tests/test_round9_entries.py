"""Round-9 surface: the smp10 stop-fingerprint cap (verdict #1).

The adversarial scenario the cap exists for: ONE boilerplate-grade
window (license header / nav text / template fragment) shared by every
document. Uncapped, the chunk-fingerprint self-join emits F² pairs on
that key and connected components welds the whole corpus into a single
split bucket — statistically useless and a shuffle-skew bomb. Capped,
the hot fingerprint is excluded from the edge set (it is boilerplate,
d11's jurisdiction, not leakage signal) while genuine low-df shared
windows still co-assign.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weather_data_pipeline_sv_spark.operators.chunking import (
    CHUNK_MAX_DF,
    chunk_by_tokens,
    chunk_fingerprint_edges,
)
from weather_data_pipeline_sv_spark.operators.graph import (
    connected_components,
)

N_BOILER_DOCS = 30
_BOILER = " ".join(f"b{i}" for i in range(32))  # one full 32-token window


@pytest.fixture(scope="module")
def adversarial_chunks(spark):
    """Distinct (doc_id, h) fingerprints of a corpus where docs 0..29
    all share the boilerplate window (plus one unique trailing token
    each) and docs 100/101 are a genuine near-dup pair with unique
    content."""
    rows = [(i, f"{_BOILER} u{i}") for i in range(N_BOILER_DOCS)]
    dup_text = " ".join(f"x{i}" for i in range(40))
    rows += [(100, dup_text), (101, dup_text)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("tokens")
    )
    ch = (
        chunk_by_tokens(docs, "doc_id", "tokens", window=32, stride=24)
        .select("doc_id", F.md5("chunk_text").alias("h"))
        .distinct()
    )
    ch.cache().count()
    return ch


def _components(spark, ch, max_chunk_df):
    verts = ch.select("doc_id").distinct()
    edges = chunk_fingerprint_edges(ch, max_chunk_df=max_chunk_df)
    return connected_components(
        verts, edges, vertex_col="doc_id", src_col="doc_a", dst_col="doc_b"
    )


def test_uncapped_join_fuses_corpus(spark, adversarial_chunks):
    """Baseline (the failure the cap prevents): with the cap disabled,
    the shared window welds all boilerplate docs into one component and
    the edge set is quadratic in their count."""
    edges = chunk_fingerprint_edges(adversarial_chunks, max_chunk_df=None)
    n_edges = edges.count()
    assert n_edges >= N_BOILER_DOCS * (N_BOILER_DOCS - 1) // 2
    comp = _components(spark, adversarial_chunks, None)
    sizes = comp.groupBy("component").count()
    assert sizes.agg(F.max("count")).first()[0] >= N_BOILER_DOCS


def test_capped_join_keeps_split_valid(spark, adversarial_chunks):
    """With a cap below the boilerplate df: the hot fingerprint is
    dropped, no mega-component forms, the edge count is bounded by the
    genuine dup pair — and the genuine pair STILL co-assigns."""
    comp = _components(spark, adversarial_chunks, 10)
    sizes = {
        r["component"]: r["count"]
        for r in comp.groupBy("component").count().collect()
    }
    assert max(sizes.values()) == 2  # only the genuine near-dup pair
    labels = {r["doc_id"]: r["component"] for r in comp.collect()}
    assert labels[100] == labels[101]
    # boilerplate docs are singletons, each its own component
    boiler_comps = {labels[i] for i in range(N_BOILER_DOCS)}
    assert len(boiler_comps) == N_BOILER_DOCS
    # the edge set itself is tiny: only the dup pair's windows survive
    assert (
        chunk_fingerprint_edges(adversarial_chunks, max_chunk_df=10).count()
        == 1
    )


def test_cap_inert_below_threshold(spark, adversarial_chunks):
    """A cap at/above the hot fingerprint's df changes nothing — the
    rule only ever REMOVES corpus-wide keys, never genuine signal. Also
    pins the default: CHUNK_MAX_DF is the jaccard stop-shingle scale."""
    a = sorted(
        map(
            tuple,
            chunk_fingerprint_edges(
                adversarial_chunks, max_chunk_df=N_BOILER_DOCS
            ).collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            chunk_fingerprint_edges(
                adversarial_chunks, max_chunk_df=None
            ).collect(),
        )
    )
    assert a == b
    assert CHUNK_MAX_DF == 1000


# ---------------------------------------------------------------------------
# Hybrid serving stack: the persisted composition (t29) must answer
# IDENTICALLY to the in-memory composition (t28) — the same proof the
# shared oracle makes at sweep time, pinned here so plain pytest
# catches drift between the two forms (train/encode/probe/fusion all
# have to agree bit-for-bit for this to hold).
# ---------------------------------------------------------------------------
def test_persisted_hybrid_equals_in_memory(spark, sf_dir):
    from weather_data_pipeline_sv_spark.catalog import all_queries

    q = all_queries()
    a = sorted(map(tuple, q["t28_hybrid_rrf_ann"](spark, sf_dir).collect()))
    b = sorted(
        map(tuple, q["t29_hybrid_rrf_served"](spark, sf_dir).collect())
    )
    assert a == b and len(a) > 0
