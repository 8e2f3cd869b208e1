"""Round-12 optimization pins: every optimization that changed an
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


def test_cluster_kernel_views_match_sql_chains(spark):
    """The r12 kernel-twin cluster-index build (broadcast-codebook
    mapInPandas passes) must materialize row- and schema-identical
    relations to the unrolled SQL training chains it replaced."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK
    from aws_trusted_advisor_explorer_spark.operators import clusterops as C

    drop_planes(spark, "cluster_index")
    C.ensure_cluster_views(spark, key=SF_DIR)

    old_asg = spark.sql(C.kmeans_assign(SPARK))
    ctes, members, cents = C._pq_train_ctes(SPARK)
    old_cents = spark.sql(f"WITH {ctes}\nSELECT s, cid, pos, val FROM {cents}")
    old_members = spark.sql(
        f"WITH {ctes}\nSELECT vec_id, s, cid, dist FROM {members}")

    for old, view in ((old_asg, C.ASG_VIEW), (old_cents, C.PQ_CENTS_VIEW),
                      (old_members, C.PQ_MEMBERS_VIEW)):
        new = spark.table(view)
        assert new.schema.simpleString() == old.schema.simpleString(), view
        assert _rows(new) == _rows(old), view


def test_shingle_kernel_matches_sql(spark):
    """The r12 shingle-plane kernel (_shingle_hash_kernel: per-token
    char fold + modular affine composition) must emit exactly the
    rows of the interpreted SQL fold it replaced — same multiset of
    (doc_id, hv), same schema."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK
    from aws_trusted_advisor_explorer_spark.operators import dedup

    drop_planes(spark, "shingle")
    dedup.ensure_shingle_view(spark, key=SF_DIR)
    new = spark.table(dedup.SHINGLE_VIEW)
    old = spark.sql(dedup.shingle_hash_sql(SPARK))
    assert new.schema.simpleString() == old.schema.simpleString()
    assert _rows(new) == _rows(old)


def test_shingle_kernel_edge_docs(spark):
    """Kernel vs SQL on the edge shapes the corpus may not cover:
    NULL text, empty text, all-non-alnum text (zero tokens), fewer
    than 3 tokens, unicode chars, repeated shingles (non-distinct
    multiset), long tokens."""
    from pyspark.sql import Row

    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK
    from aws_trusted_advisor_explorer_spark.operators import dedup

    docs = [
        Row(doc_id=1, text=None),
        Row(doc_id=2, text=""),
        Row(doc_id=3, text="!!! ... ###"),
        Row(doc_id=4, text="one two"),
        Row(doc_id=5, text="a b c d a b c d a b c"),
        Row(doc_id=6, text="Ünïcode tOkEns ärE löwered tōo"),
        Row(doc_id=7, text="x" * 300 + " yy zz ww"),
    ]
    df = spark.createDataFrame(docs, schema="doc_id long, text string")
    kern = df.mapInPandas(dedup._shingle_hash_kernel,
                          schema="doc_id long, hv long")
    df.createOrReplaceTempView("__edge_docs")
    sql = dedup.shingle_hash_sql(SPARK).replace(
        "FROM documents", "FROM __edge_docs")
    old = spark.sql(sql)
    assert _rows(kern) == _rows(old)


def test_span_kernel_matches_sql(spark):
    """The r12 span-gram kernel (make_gram_hv_kernel(SPAN_GRAM):
    per-token fold + SHINGLE_MULT window combine) must emit exactly the rows of the
    _span_gram_cte SQL chain — same multiset of (doc_id, pos, hv)."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK
    from aws_trusted_advisor_explorer_spark.operators import dedup

    drop_planes(spark, "span")
    dedup.ensure_span_views(spark, key=SF_DIR)
    new = spark.table(dedup.SPAN_GRAM_VIEW)
    old = spark.sql(f"WITH {dedup._span_gram_cte(SPARK, None)}\n"
                    f"SELECT doc_id, pos, hv FROM g")
    assert new.schema.simpleString() == old.schema.simpleString()
    assert _rows(new) == _rows(old)


def test_span_kernel_edge_docs(spark):
    """Kernel vs SQL chain on edge shapes: NULL/empty text, exactly
    SPAN_GRAM tokens, SPAN_GRAM-1 tokens (no gram), repeats."""
    from pyspark.sql import Row

    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK
    from aws_trusted_advisor_explorer_spark.operators import dedup

    k = dedup.SPAN_GRAM
    docs = [
        Row(doc_id=1, text=None),
        Row(doc_id=2, text=""),
        Row(doc_id=3, text=" ".join(f"t{i}" for i in range(k))),
        Row(doc_id=4, text=" ".join(f"t{i}" for i in range(k - 1))),
        Row(doc_id=5, text=" ".join(["dup"] * (3 * k))),
        Row(doc_id=6, text="Mixed CASE tokens " * k),
    ]
    df = spark.createDataFrame(docs, schema="doc_id long, text string")
    kern = df.mapInPandas(dedup.make_gram_hv_kernel(dedup.SPAN_GRAM),
                          schema="doc_id long, pos int, hv long")
    df.createOrReplaceTempView("__edge_docs_span")
    sql = (f"WITH {dedup._span_gram_cte(SPARK, None)}\n"
           f"SELECT doc_id, pos, hv FROM g").replace(
        "FROM documents", "FROM __edge_docs_span")
    assert _rows(kern) == _rows(spark.sql(sql))


def test_contam_plane_matches_sql(spark):
    """The r12 contamination-plane build (gram-hv kernel + the SQL
    ev/tr join) must materialize exactly the rows of the
    self-contained docs_contamination SQL (which stays the oracle)."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK
    from aws_trusted_advisor_explorer_spark.operators import corpusops

    drop_planes(spark, "contam_hits_plane")
    corpusops.ensure_contam_view(spark, key=SF_DIR)
    new = spark.table(corpusops.CONTAM_VIEW)
    old = spark.sql(corpusops.docs_contamination(SPARK))
    assert new.schema.simpleString() == old.schema.simpleString()
    assert _rows(new) == _rows(old)


def test_band_tuning_array_verify_matches_join_verify(spark):
    """The band-tuning report's array-intersect verify must keep the
    report row-identical to the self-contained SQL form (which still
    runs the pairs x shingles verify join per config)."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK
    from aws_trusted_advisor_explorer_spark.operators import dedup

    drop_planes(spark, "shingle")
    new = dedup.dedup_band_tuning_df(
        spark, dedup.ensure_shingle_view(spark, key=SF_DIR),
        dedup.ensure_ngram_common_view(spark, key=SF_DIR),
        dedup.ensure_minhash_sigs_view(spark, key=SF_DIR))
    old = spark.sql(dedup.dedup_band_tuning(SPARK))
    assert new.schema.simpleString() == old.schema.simpleString()
    assert _rows(new) == _rows(old)


def test_bpe_kernel_trainer_matches_jobs(spark):
    """The one-job kernel BPE trainer must return exactly the rounds
    of the per-round job loop it replaced (same counts, same ranking,
    same greedy selection, same per-round apply)."""
    from aws_trusted_advisor_explorer_spark.operators import textops

    base = textops.ensure_bpe_dict_view(spark, key=SF_DIR)
    new = textops._bpe_train_rounds(spark, base=base)
    old = textops._bpe_train_rounds_jobs(spark, base=base)
    assert new == old


def test_dsir_twin_matches_sql(spark):
    """The r12 DSIR kernel twin (hashed features from the Arrow char
    fold) must equal the self-contained SQL form row-for-row."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK
    from aws_trusted_advisor_explorer_spark.operators import textops

    new = textops.docs_dsir_importance_df(spark)
    old = spark.sql(textops.docs_dsir_importance(SPARK))
    assert new.schema.simpleString() == old.schema.simpleString()
    assert _rows(new) == _rows(old)


def test_fixture_landing_v3_matches_lazy_derivation(spark):
    """The r12 fixture-landing layout (repartition the narrow base
    BEFORE the wide string derivation) must land tables content-equal
    to the lazy derivation of the same fixture SQL."""
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.plans import fixtures

    fixtures.register_raw_tables(spark, SF_DIR)
    sqls = fixtures.raw_table_sql()
    for name in ("check_qch7dwoux1", "tags", "summary"):
        landed = spark.table(name).selectExpr(
            "sum(hash(*)) AS h", "count(*) AS c").collect()[0]
        lazy = spark.sql(fixtures.to_spark_sql(sqls[name])).selectExpr(
            "sum(hash(*)) AS h", "count(*) AS c").collect()[0]
        assert (landed.h, landed.c) == (lazy.h, lazy.c), name
