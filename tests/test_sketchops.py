"""Sketch plane: HLL distinct, count-min heavy hitters, KMV union —
cross-engine parity plus the algebraic properties each sketch ships
with (merge losslessness, never-undercount, small-range accuracy)."""

from __future__ import annotations

import duckdb
import pandas as pd

from aws_trusted_advisor_explorer_spark.functions.dual import DUCK, SPARK
from aws_trusted_advisor_explorer_spark.operators import sketchops
from tests.conftest import assert_matches_oracle, canonicalize


def _py_mix(u: int) -> int:
    """Python reference of sketchops._mix (the arithmetic spec)."""
    P, K = 1_000_000_007, sketchops.MIX_MULT
    x0 = u % P
    x1 = x0 ^ (x0 >> 13)
    x2 = (x1 * K) % P
    return x2 ^ (x2 >> 11)


def test_mix_hash_matches_python_reference(spark):
    """The SQL xorshift-multiply mix must equal the arithmetic spec —
    pins the hash layout both engines (and any future port) share."""
    rows = spark.sql(
        "SELECT id, " + sketchops._mix(SPARK, "id") + " AS hv "
        "FROM (SELECT explode(sequence(0, 99)) AS id)").collect()
    for r in rows:
        assert r.hv == _py_mix(r.id), (r.id, r.hv, _py_mix(r.id))


def test_hll_distinct_parity_and_accuracy(spark, ddb):
    """Both engines agree bit-for-bit (incl. the double estimate), the
    linear-counting small-range branch keeps the estimate within 15%
    of truth on the fixture, and exact counts are genuinely exact."""
    df = spark.sql(sketchops.events_hll_distinct(SPARK))
    assert_matches_oracle(df, ddb, sketchops.events_hll_distinct(DUCK))
    pdf = df.toPandas()
    exact = ddb.sql(
        "SELECT event_type, count(DISTINCT user_id) AS n "
        "FROM events WHERE user_id IS NOT NULL GROUP BY 1").df()
    merged = pdf.merge(exact, on="event_type")
    assert (merged["n_exact"] == merged["n"]).all()
    assert (merged["err_milli"] < 150).all(), merged


def test_hll_merge_is_lossless(spark, ddb):
    """Per-day register tables merged with max() must equal the
    direct build — zero disagreeing registers, identical Z partials."""
    df = spark.sql(sketchops.events_hll_merge(SPARK))
    assert_matches_oracle(df, ddb, sketchops.events_hll_merge(DUCK))
    pdf = df.toPandas()
    assert (pdf["n_disagree"] == 0).all()
    assert (pdf["z_partial_direct"] == pdf["z_partial_merged"]).all()
    assert (pdf["n_registers"] > 0).all()


def test_hll_registers_match_python_replay_on_any_split(spark):
    """The register table is a plain max over per-row ranks: per
    (event_type, bucket), rho equals a python replay of the max
    leading-one rank, and max-merging the registers of two halves of
    the rows (an arbitrary split, not day slices) gives the same table
    — registers fold in incrementally without loss."""
    m = sketchops.HLL_M

    def rank(hv: int) -> int:
        w = hv // m
        if w == 0:
            return sketchops.HLL_RHO_MAX
        return sketchops.HLL_W + 1 - w.bit_length()

    want: dict = {}
    for r in spark.sql("SELECT event_type, user_id FROM events "
                       "WHERE user_id IS NOT NULL").collect():
        hv = _py_mix(r.user_id)
        k = (r.event_type, hv % m)
        want[k] = max(want.get(k, 0), rank(hv))
    assert want

    def registers(where: str) -> dict:
        sql = f"""WITH e AS (
  SELECT event_type, user_id, {sketchops._mix(SPARK, 'user_id')} AS hv
  FROM events WHERE user_id IS NOT NULL{where}
),
reg AS ({sketchops._hll_registers(SPARK, 'event_type', 'e')})
SELECT event_type, bucket, rho FROM reg"""
        return {(r.event_type, r.bucket): r.rho
                for r in spark.sql(sql).collect()}

    assert registers("") == want
    merged: dict = {}
    for half in (0, 1):
        for k, rho in registers(f" AND event_id % 2 = {half}").items():
            merged[k] = max(merged.get(k, 0), rho)
    assert merged == want


def test_cms_never_undercounts(spark, ddb):
    """CMS estimates are upper bounds (min of d over-counting rows):
    overcount >= 0 for every reported user, and the exact column
    matches a direct groupBy."""
    df = spark.sql(sketchops.events_cms_heavy_hitters(SPARK))
    assert_matches_oracle(df, ddb, sketchops.events_cms_heavy_hitters(DUCK))
    pdf = df.toPandas()
    assert len(pdf) > 0
    assert (pdf["overcount"] >= 0).all()
    assert (pdf["cms_est"] >= pdf["n_exact"]).all()


def test_cms_planted_heavy_hitter(spark):
    """A planted user owning half the stream must be reported with an
    exact count; background users stay under the relative threshold."""
    events = pd.DataFrame({
        "user_id": [u for u, n in
                    [(1000, 500)] + [(i, 1) for i in range(40)]
                    for _ in range(n)]})
    ns = spark.newSession()
    ns.createDataFrame(events).createOrReplaceTempView("events")
    con = duckdb.connect()
    con.register("events", events)
    sdf = canonicalize(
        ns.sql(sketchops.events_cms_heavy_hitters(SPARK)).toPandas())
    ddf = canonicalize(
        con.sql(sketchops.events_cms_heavy_hitters(DUCK)).df())
    assert sdf.equals(ddf)
    out = ns.sql(sketchops.events_cms_heavy_hitters(SPARK)).toPandas()
    assert set(out["user_id"]) == {1000}
    assert int(out["n_exact"].iloc[0]) == 500


def test_kmv_merge_matches_direct(spark, ddb):
    """The k smallest of the union of per-source sketches equal the
    k smallest over the corpus (lossless top-k merge), and the direct
    estimate lands within 3 sigma (~38%) of exact at k=64."""
    df = spark.sql(sketchops.docs_kmv_distinct_union(SPARK))
    assert_matches_oracle(df, ddb, sketchops.docs_kmv_distinct_union(DUCK))
    row = df.toPandas().iloc[0]
    assert row["merge_matches_direct"] == 1
    assert row["kmv_est_direct"] == row["kmv_est_merged"]
    assert row["err_milli"] < 380, row


def test_kmv_exact_mode_below_k(spark):
    """With fewer distinct documents than k the sketch holds the whole
    hash set: the estimate IS the exact count and the error is 0."""
    pdf = pd.DataFrame({
        "doc_id": range(10),
        "source": ["a"] * 5 + ["b"] * 5,
        "text": [f"doc number {i}" for i in range(8)] + ["dup", "dup"],
    })
    ns = spark.newSession()
    ns.createDataFrame(pdf).createOrReplaceTempView("documents")
    con = duckdb.connect()
    con.register("documents", pdf)
    sdf = canonicalize(
        ns.sql(sketchops.docs_kmv_distinct_union(SPARK)).toPandas())
    ddf = canonicalize(
        con.sql(sketchops.docs_kmv_distinct_union(DUCK)).df())
    assert sdf.equals(ddf)
    row = ns.sql(sketchops.docs_kmv_distinct_union(SPARK)).toPandas().iloc[0]
    assert row["n_exact"] == 9
    assert row["kmv_est_direct"] == 9
    assert row["kmv_est_merged"] == 9
    assert row["merge_matches_direct"] == 1
    assert row["err_milli"] == 0


def test_kmv_null_text_doc_excluded_from_sketch_domain(spark):
    """Regression (review finding): a NULL-text document hashes to a
    NULL hv, which the engines ORDER differently (Spark NULLS FIRST
    would hand it r=1 and a sketch slot; DuckDB NULLS LAST pushes it
    out of a full sketch) — it must be excluded from the content-hash
    sketch domain in BOTH engines, leaving counts/estimates equal to
    the same corpus without the NULL doc."""
    base = pd.DataFrame({
        "doc_id": range(10),
        "source": ["a"] * 5 + ["b"] * 5,
        "text": [f"doc number {i}" for i in range(10)],
    })
    with_null = pd.concat([base, pd.DataFrame(
        {"doc_id": [99], "source": ["a"], "text": [None]})],
        ignore_index=True)

    out = {}
    for name, pdf in (("base", base), ("with_null", with_null)):
        ns = spark.newSession()
        ns.createDataFrame(pdf).createOrReplaceTempView("documents")
        con = duckdb.connect()
        con.register("documents", pdf)
        sdf = canonicalize(
            ns.sql(sketchops.docs_kmv_distinct_union(SPARK)).toPandas())
        ddf = canonicalize(
            con.sql(sketchops.docs_kmv_distinct_union(DUCK)).df())
        assert sdf.equals(ddf), name
        out[name] = sdf
    assert out["base"].equals(out["with_null"])


def test_hist_quantiles_parity_and_error_bound(spark, ddb):
    """Both engines agree bit-for-bit and the histogram estimate's
    error stays within one bin width of the value range (the true
    quantile lies inside the selected bin; midpoint estimate is off by
    at most half a bin + floor slack): err <= 1000/HIST_BINS."""
    df = spark.sql(sketchops.events_hist_quantiles(SPARK))
    assert_matches_oracle(df, ddb, sketchops.events_hist_quantiles(DUCK))
    pdf = df.toPandas()
    bound = 1000 // sketchops.HIST_BINS + 1
    assert (pdf["err50_span_milli"] <= bound).all(), pdf
    assert (pdf["err99_span_milli"] <= bound).all(), pdf
    assert (pdf["n_events"] > 0).all()


# --- hypothesis properties (DuckDB-only: the engine-parity of every
# builder is pinned by the fixture tests above; these pin the sketch
# ALGEBRA on arbitrary streams — upper bounds, merge losslessness,
# error bounds — which no single fixture draw can certify) ------------

from hypothesis import given, settings
from hypothesis import strategies as st

_SET = dict(max_examples=25, deadline=None)


@given(st.lists(st.integers(0, 15), min_size=5, max_size=300))
@settings(**_SET)
def test_cms_upper_bound_on_random_streams(user_ids):
    """min-of-counters never undercounts, and the exact column always
    matches a direct groupBy — on arbitrary skewed streams."""
    con = duckdb.connect()
    events = pd.DataFrame({"user_id": user_ids})
    con.register("events", events)
    out = con.sql(sketchops.events_cms_heavy_hitters(DUCK)).df()
    truth = events.groupby("user_id").size()
    for _, r in out.iterrows():
        assert r["cms_est"] >= r["n_exact"]
        assert r["overcount"] >= 0
        assert r["n_exact"] == truth[r["user_id"]]


@given(st.lists(st.tuples(st.integers(0, 3), st.integers(0, 10**12),
                          st.sampled_from(["a", "b"])),
                min_size=1, max_size=300))
@settings(**_SET)
def test_hll_merge_lossless_on_random_streams(rows):
    """max-merged per-day registers equal the direct build for any
    (day, user, type) stream, and the exact column is truly exact."""
    con = duckdb.connect()
    events = pd.DataFrame(rows, columns=["day", "user_id", "event_type"])
    events["ts"] = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        events.pop("day"), unit="D")
    con.register("events", events)
    m = con.sql(sketchops.events_hll_merge(DUCK)).df()
    assert (m["n_disagree"] == 0).all()
    assert (m["z_partial_direct"] == m["z_partial_merged"]).all()
    d = con.sql(sketchops.events_hll_distinct(DUCK)).df()
    truth = events.groupby("event_type")["user_id"].nunique()
    for _, r in d.iterrows():
        assert r["n_exact"] == truth[r["event_type"]]


@given(st.lists(st.tuples(st.sampled_from(["s1", "s2", "s3"]),
                          st.integers(0, 200)),
                min_size=1, max_size=400))
@settings(**_SET)
def test_kmv_merge_lossless_on_random_corpora(rows):
    """The k smallest of the union of per-source sketches equal the
    direct corpus top-k for ANY source split (lossless merge), and
    below k distinct the estimate is exact."""
    con = duckdb.connect()
    docs = pd.DataFrame(
        [(i, s, f"text {t}") for i, (s, t) in enumerate(rows)],
        columns=["doc_id", "source", "text"])
    con.register("documents", docs)
    r = con.sql(sketchops.docs_kmv_distinct_union(DUCK)).df().iloc[0]
    assert r["merge_matches_direct"] == 1
    assert r["kmv_est_direct"] == r["kmv_est_merged"]
    n_exact = docs["text"].nunique()
    assert r["n_exact"] == n_exact
    if n_exact < sketchops.KMV_K:
        assert r["kmv_est_direct"] == n_exact
        assert r["err_milli"] == 0


@given(st.lists(st.tuples(st.sampled_from(["x", "y"]),
                          st.floats(-1e6, 1e6, allow_nan=False)),
                min_size=2, max_size=300))
@settings(**_SET)
def test_hist_quantile_error_bound_on_random_values(rows):
    """The histogram estimate is within one bin width of the exact
    rank-selection quantile for arbitrary value distributions."""
    con = duckdb.connect()
    events = pd.DataFrame(
        [(i, t, v) for i, (t, v) in enumerate(rows)],
        columns=["event_id", "event_type", "value"])
    con.register("events", events)
    out = con.sql(sketchops.events_hist_quantiles(DUCK)).df()
    bound = 1000 // sketchops.HIST_BINS + 1
    assert (out["err50_span_milli"] <= bound).all(), out
    assert (out["err99_span_milli"] <= bound).all(), out


def test_kmv_source_overlap_python_replay(spark, ddb):
    """The KMV intersection estimator (r6): (a) Spark == DuckDB on the
    fixture, (b) a pure-Python replay of the sketch algebra — per-source
    k-min sketches, per-pair union top-k, in-both match count, cleared-
    integer estimates — reproduces every output column exactly, and
    (c) the in-row exact truth column equals the real pairwise
    intersection of distinct shingle sets."""
    from aws_trusted_advisor_explorer_spark.functions.dual import P_MOD
    from aws_trusted_advisor_explorer_spark.operators import dedup

    sdf = canonicalize(
        spark.sql(sketchops.docs_kmv_source_overlap(SPARK)).toPandas())
    ddf = canonicalize(ddb.sql(sketchops.docs_kmv_source_overlap(DUCK)).df())
    assert sdf.equals(ddf)

    base = dedup.ensure_shingle_view(spark, key=None)
    rows = spark.sql(
        f"SELECT DISTINCT d.source, s.hv FROM {base} s "
        f"JOIN documents d ON d.doc_id = s.doc_id").collect()
    by_src: dict[str, set] = {}
    for r in rows:
        by_src.setdefault(r.source, set()).add(int(r.hv))
    K = sketchops.KMV_K
    sk = {s: set(sorted(vs)[:K]) for s, vs in by_src.items()}
    expect = {}
    for s1 in sorted(by_src):
        for s2 in sorted(by_src):
            if s1 >= s2:
                continue
            union_sorted = sorted(sk[s1] | sk[s2])
            top = union_sorted[:K]
            n_u, h_k = len(top), top[-1]
            matches = sum(1 for hv in top if hv in sk[s1] and hv in sk[s2])
            est_u = n_u if n_u < K else ((K - 1) * P_MOD) // h_k
            expect[(s1, s2)] = (len(by_src[s1] & by_src[s2]), matches,
                                est_u, (matches * est_u) // n_u)
    got = {(r.source_a, r.source_b):
           (int(r.exact_shared_shingles), int(r.sketch_matches),
            int(r.est_union_shingles), int(r.est_shared_shingles))
           for r in spark.sql(
               sketchops.docs_kmv_source_overlap(SPARK)).collect()}
    assert got == expect
    assert any(v[0] > 0 for v in got.values()), "zero-signal fixture"
