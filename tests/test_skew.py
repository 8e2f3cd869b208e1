"""Skew fixture for the MinHash LSH band join: a hot band bucket stays
bounded by its size, agrees with the DuckDB oracle, and AQE's skew join
is on to split its shuffle partition at scale."""

from __future__ import annotations

from tests.conftest import canonicalize


def test_minhash_lsh_hot_band_fixture(spark):
    """Skew fixture for the LSH band join (VERDICT r1 #7): 10% of the
    corpus is an identical boilerplate doc, so all 16 minhash values —
    and therefore all 4 band signatures — coincide for those docs: one
    band bucket holds the hot 10%. The test (a) quantifies the skew
    (the hot band's candidate volume is C(k,2), quadratic in the
    bucket, bounded by bucket size — not corpus size), (b) checks the
    query completes and agrees with the DuckDB oracle on the skewed
    input, and (c) pins the AQE skew-join posture that splits such a
    bucket's shuffle partition at real scale."""
    import duckdb
    import pandas as pd

    from aws_trusted_advisor_explorer_spark.functions.dual import DUCK, SPARK
    from aws_trusted_advisor_explorer_spark.operators import dedup

    n, hot = 200, 20
    boiler = "identical boilerplate body shared by every hot document here"
    rows = [(i, boiler) for i in range(hot)]
    rows += [(100 + i,
              f"unique{i}a unique{i}b unique{i}c unique{i}d unique{i}e "
              f"unique{i}f unique{i}g unique{i}h")
             for i in range(n - hot)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])

    ns = spark.newSession()
    ns.createDataFrame(pdf).createOrReplaceTempView("documents")
    con = duckdb.connect()
    con.register("documents", pdf)

    sdf = canonicalize(ns.sql(dedup.dedup_minhash_lsh(SPARK)).toPandas())
    ddf = canonicalize(con.sql(dedup.dedup_minhash_lsh(DUCK)).df())
    assert sdf.equals(ddf)
    # every hot-doc pair is an exact dup (jaccard 1.0) and must be found
    assert len(sdf) == hot * (hot - 1) // 2

    # skew is real but bounded: the hot band bucket contributes C(20,2)
    # candidates per band; nothing scales with corpus size
    cand = con.sql(f"""WITH p AS ({dedup.dedup_minhash_lsh(DUCK)})
SELECT count(*) FROM p""").fetchone()[0]
    assert cand == hot * (hot - 1) // 2

    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"
