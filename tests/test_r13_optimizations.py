"""Round-13 optimization pins: every optimization that changed an
operator's internals carries a focused equality test against the form
it replaced (the oracle comparator and the standing suites gate the
end results; these tests pin the specific internal equivalence so a
regression names the optimization that broke)."""

from __future__ import annotations

import pytest

from aws_trusted_advisor_explorer_spark.session import drop_planes
from tests.conftest import SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


EDGE_DOCS_SQL = "doc_id long, text string"


def _edge_docs(spark):
    """Edge shapes the corpus may not cover: NULL/empty text, zero
    tokens, fewer tokens than each gram width, repeats, unicode, and a
    doc long enough to span every stream width."""
    from pyspark.sql import Row

    from aws_trusted_advisor_explorer_spark.operators import dedup

    k = dedup.SPAN_GRAM
    docs = [
        Row(doc_id=1, text=None),
        Row(doc_id=2, text=""),
        Row(doc_id=3, text="!!! ... ###"),
        Row(doc_id=4, text="one two"),
        Row(doc_id=5, text="a b c d"),               # >=3, <5 tokens
        Row(doc_id=6, text="a b c d e f g"),         # >=5, <8 tokens
        Row(doc_id=7, text=" ".join(f"t{i}" for i in range(k))),
        Row(doc_id=8, text=" ".join(["dup"] * (3 * k))),
        Row(doc_id=9, text="Ünïcode tOkEns ärE löwered tōo " * 4),
        Row(doc_id=10, text="x" * 300 + " yy zz ww vv uu tt ss rr"),
    ]
    return spark.createDataFrame(docs, schema=EDGE_DOCS_SQL)


def test_gram_fold_kernel_matches_per_plane_kernels(spark):
    """The r13 fused gram-fold kernel must emit, per stream, exactly
    the rows of the single-plane kernels it replaced: stream 3 ==
    _shingle_hash_kernel, stream 5 == make_gram_hv_kernel(5, hv only),
    stream 8 == make_gram_hv_kernel(SPAN_GRAM, with pos)."""
    from aws_trusted_advisor_explorer_spark.operators import dedup

    df = _edge_docs(spark)
    fused = df.mapInPandas(
        dedup._gram_fold_kernel,
        schema="stream int, doc_id long, pos int, hv long")
    s3 = fused.where("stream = 3").select("doc_id", "hv")
    old3 = df.mapInPandas(dedup._shingle_hash_kernel,
                          schema="doc_id long, hv long")
    assert _rows(s3) == _rows(old3)
    s5 = fused.where("stream = 5").select("doc_id", "hv")
    old5 = df.mapInPandas(dedup.make_gram_hv_kernel(5, with_pos=False),
                          schema="doc_id long, hv long")
    assert _rows(s5) == _rows(old5)
    s8 = fused.where(f"stream = {dedup.SPAN_GRAM}").select(
        "doc_id", "pos", "hv")
    old8 = df.mapInPandas(dedup.make_gram_hv_kernel(dedup.SPAN_GRAM),
                          schema="doc_id long, pos int, hv long")
    assert _rows(s8) == _rows(old8)
    # stream 4 == DISTINCT of stream 3 with the per-doc distinct count
    s4 = fused.where("stream = 4").selectExpr(
        "doc_id", "hv", "cast(pos as bigint) AS n")
    ref4 = old3.selectExpr("doc_id", "hv").distinct().selectExpr(
        "doc_id", "hv",
        "count(*) OVER (PARTITION BY doc_id) AS n")
    assert _rows(s4) == _rows(ref4)


def test_gram_fold_corpus_slices_match_per_plane_kernels(spark):
    """Same pin over the real fixture corpus via the materialized
    plane: each ensured stream slice equals its standalone kernel."""
    from aws_trusted_advisor_explorer_spark.operators import dedup

    drop_planes(spark, "gram_fold")
    dedup.ensure_gram_fold_view(spark, key=SF_DIR)
    docs = spark.table("documents").select("doc_id", "text")
    fused = spark.table(dedup.GRAM_FOLD_VIEW)
    old3 = docs.mapInPandas(dedup._shingle_hash_kernel,
                            schema="doc_id long, hv long")
    assert _rows(fused.where("stream = 3").select("doc_id", "hv")) \
        == _rows(old3)
    old8 = docs.mapInPandas(dedup.make_gram_hv_kernel(dedup.SPAN_GRAM),
                            schema="doc_id long, pos int, hv long")
    assert _rows(fused.where(f"stream = {dedup.SPAN_GRAM}")
                 .select("doc_id", "pos", "hv")) == _rows(old8)


def test_capped_shingle_antijoin_matches_window_form(spark):
    """The r13 capped-shingle build (anti-join over-cap set + per-doc
    count correction) must materialize exactly the rows of the r12
    keep-join + count-window form."""
    from aws_trusted_advisor_explorer_spark.operators import dedup

    drop_planes(spark, "shingle")
    dedup.ensure_shingle_view(spark, key=SF_DIR)
    new = spark.table(dedup.SHINGLE_CAPPED_VIEW)
    old = spark.sql(
        f"SELECT doc_id, hv, count(*) OVER (PARTITION BY doc_id) AS n "
        f"FROM (SELECT s.doc_id, s.hv FROM {dedup.SHINGLE_DISTINCT_VIEW} s "
        f"JOIN (SELECT hv FROM {dedup.SHINGLE_DISTINCT_VIEW} "
        f"GROUP BY hv HAVING count(*) <= {dedup.NGRAM_DF_CAP}) k "
        f"ON k.hv = s.hv)")
    assert new.schema.simpleString() == old.schema.simpleString()
    assert _rows(new) == _rows(old)


def test_semdedup_blocked_pairs_match_unblocked():
    """The r13 blocked pair enumeration in the semdedup grouped kernel
    (bounded per-task memory — r12 verdict item 3) must be bit- and
    order-identical to the unblocked triu form on a deliberately hot
    cluster, including when the block budget forces many blocks."""
    import numpy as np
    import pandas as pd
    import pandas.testing as pt

    from aws_trusted_advisor_explorer_spark.operators import clusterops as C

    rng = np.random.RandomState(7)
    n, dim = 600, 8   # ~180k pairs — 10-100x the sf0.1 median cluster
    V = rng.randn(n, dim)
    V[5] = V[6]
    pdf = pd.DataFrame({
        "cluster_id": np.full(n, 42, dtype=np.int64),
        "vec_id": np.arange(n, dtype=np.int64)[::-1],
        "embedding": [list(v) for v in V]})
    # unblocked reference: the r12 kernel body verbatim
    p = pdf.sort_values("vec_id")
    ids = p["vec_id"].to_numpy()
    W = np.stack(p["embedding"].to_numpy()).astype(np.float64)
    ia, ib = np.triu_indices(n, k=1)
    dot = np.zeros(len(ia))
    na = np.zeros(n)
    for i in range(dim):
        dot += W[ia, i] * W[ib, i]
        na += W[:, i] * W[:, i]
    cos = dot / (np.sqrt(na[ia]) * np.sqrt(na[ib]))
    keep = cos >= C.COSINE_SEM_THRESHOLD
    ref = pd.DataFrame({
        "cluster_id": np.full(int(keep.sum()), 42, dtype=np.int64),
        "vec_a": ids[ia[keep]], "vec_b": ids[ib[keep]],
        "cosine": cos[keep]}).reset_index(drop=True)
    out = C._semdedup_cluster_pairs_pdf(pdf).reset_index(drop=True)
    pt.assert_frame_equal(out, ref, check_exact=True)
    # force the multi-block path (tiny budget) — still identical
    old = C.SEM_PAIR_BLOCK_PAIRS
    try:
        C.SEM_PAIR_BLOCK_PAIRS = 1000
        out2 = C._semdedup_cluster_pairs_pdf(pdf).reset_index(drop=True)
    finally:
        C.SEM_PAIR_BLOCK_PAIRS = old
    pt.assert_frame_equal(out2, ref, check_exact=True)


def test_ngram_common_plane_backed_forms_match_standalone(spark):
    """The r13 shared pair-aggregate plane (ensure_ngram_common_view):
    the plane-backed jaccard / containment / LSH-recall / band-tuning
    forms must equal their self-contained forms row-for-row."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK
    from aws_trusted_advisor_explorer_spark.operators import dedup

    drop_planes(spark, "ngram_common")
    base = dedup.ensure_shingle_view(spark, key=SF_DIR)
    cv = dedup.ensure_ngram_common_view(spark, key=SF_DIR)
    pv = dedup.ensure_minhash_pairs_view(spark, key=SF_DIR)
    sv = dedup.ensure_minhash_sigs_view(spark, key=SF_DIR)
    for name, new, old in [
        ("jaccard",
         spark.sql(dedup.dedup_ngram_jaccard(SPARK, common_view=cv)),
         spark.sql(dedup.dedup_ngram_jaccard(SPARK))),
        ("containment",
         spark.sql(dedup.dedup_containment(SPARK, common_view=cv)),
         spark.sql(dedup.dedup_containment(SPARK))),
        ("lsh_recall",
         spark.sql(dedup.dedup_lsh_recall(SPARK, pairs_view=pv,
                                          common_view=cv)),
         spark.sql(dedup.dedup_lsh_recall(SPARK, pairs_view=pv))),
        ("band_tuning",
         dedup.dedup_band_tuning_df(spark, base, cv, sv),
         spark.sql(dedup.dedup_band_tuning(SPARK))),
    ]:
        assert new.schema.simpleString() == old.schema.simpleString(), name
        assert _rows(new) == _rows(old), name


def test_minhash_sigs_plane_backed_forms_match_standalone(spark):
    """The r13 shared signature plane (ensure_minhash_sigs_view): the
    sigs-backed LSH / estimator forms must equal their standalone forms
    row-for-row (the sigs-backed band-tuning report is checked against
    its self-contained form with the pair-aggregate plane above)."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK
    from aws_trusted_advisor_explorer_spark.operators import dedup

    drop_planes(spark, "minhash_sigs")
    base = dedup.ensure_shingle_view(spark, key=SF_DIR)
    sv = dedup.ensure_minhash_sigs_view(spark, key=SF_DIR)
    pv = dedup.ensure_minhash_pairs_view(spark, key=SF_DIR)
    for name, new, old in [
        ("lsh", spark.sql(dedup.dedup_minhash_lsh(SPARK, base, mh_view=sv)),
         spark.sql(dedup.dedup_minhash_lsh(SPARK, base))),
        ("estimate",
         spark.sql(dedup.dedup_minhash_estimate(SPARK, pairs_view=pv,
                                                mh_view=sv)),
         spark.sql(dedup.dedup_minhash_estimate(SPARK, pairs_view=pv))),
    ]:
        assert new.schema.simpleString() == old.schema.simpleString(), name
        assert _rows(new) == _rows(old), name


def test_emb_gram_plane_backed_forms_match_standalone(spark):
    """The r13 shared Gram plane (ensure_emb_gram_view): the
    plane-backed covariance / power-iteration / PCA-direction forms
    must equal their standalone forms row-for-row."""
    from aws_trusted_advisor_explorer_spark.operators import similarity as S

    drop_planes(spark, "emb_gram")
    base = S.ensure_emb_gram_view(spark, key=SF_DIR)
    for name, new, old in [
        ("cov", S.embeddings_covariance_df(spark, base=base),
         S.embeddings_covariance_df(spark)),
        ("power", S.embeddings_power_iteration_df(spark, base=base),
         S.embeddings_power_iteration_df(spark)),
        ("pca", S.pca_dirs_df(spark, base=base), S.pca_dirs_df(spark)),
    ]:
        assert new.schema.simpleString() == old.schema.simpleString(), name
        assert _rows(new) == _rows(old), name


def test_release_rel_plane_backed_forms_match_fresh_rail(spark):
    """The r13 ranged-rail planes (ensure_release_rel_view /
    ensure_pairs_release_rel_view): the plane-backed manifest and
    refresh reports must equal the same forms over a rail composed and
    laid out fresh (functions.ranged.range_layout) per run."""
    from aws_trusted_advisor_explorer_spark.functions.ranged import (
        range_layout,
    )
    from aws_trusted_advisor_explorer_spark.operators import (
        corpusops, multimodal,
    )

    drop_planes(spark, "release_rel_ranged", "pairs_release_rel_ranged")
    for rel, rail, manifest, refresh in (
            (corpusops._release_rel_df, corpusops.DOC_RELEASE,
             corpusops.docs_release_manifest_df,
             corpusops.docs_release_refresh_df),
            (multimodal._pairs_release_rel_df, multimodal.PAIR_RELEASE,
             multimodal.pairs_release_manifest_df,
             multimodal.pairs_release_refresh_df)):
        fresh = range_layout(rel(spark, key=SF_DIR), "split", rail.id_col) \
            .localCheckpoint(eager=False)
        for new, old in (
                (manifest(spark, key=SF_DIR),
                 corpusops.release_manifest_df(fresh, rail)),
                (refresh(spark, key=SF_DIR),
                 corpusops.release_refresh_df(fresh, rail))):
            assert new.schema.simpleString() == old.schema.simpleString()
            assert _rows(new) == _rows(old), rail.id_col


def test_gram_hv_kernel_rejects_k1():
    """make_gram_hv_kernel(1) would silently emit zero rows (the
    [:-(k-1)] empty-slice hazard, r12 advice) — it must raise."""
    from aws_trusted_advisor_explorer_spark.operators import dedup

    with pytest.raises(ValueError, match="k must be >= 2"):
        dedup.make_gram_hv_kernel(1)
