"""Round-11 operators: the CUBE aggregate shape, the release
capstone (detect→drop→decontaminate→split→pack→shard→manifest), and
the LAION-style paired-modality curation (media_caption_pairs +
pairs_near_dedup)."""

import pandas as pd
import pytest

from aws_trusted_advisor_explorer_spark.functions.dual import DUCK, SPARK
from aws_trusted_advisor_explorer_spark.operators import (
    corpusops as CO,
    dedup,
    eventops as EO,
    multimodal as M,
)
from tests.conftest import assert_matches_oracle, canonicalize


# --- events_cube ------------------------------------------------------------

def test_events_cube_matches_oracle(spark, ddb):
    """Spark CUBE == DuckDB explicit GROUPING SETS — two syntactic
    paths, one lattice."""
    assert_matches_oracle(spark.sql(EO.events_cube(SPARK)), ddb,
                          EO.events_cube(DUCK))


def test_events_cube_lattice_structure(spark):
    rows = spark.sql(EO.events_cube(SPARK)).toPandas()
    assert set(rows["gid"]) == {0, 1, 2, 3}
    grand = rows[rows["gid"] == 3]
    assert len(grand) == 1
    full = rows[rows["gid"] == 0]
    # every margin reconciles with the full matrix
    assert int(full["n_events"].sum()) == int(grand["n_events"].iloc[0])
    by_type = rows[rows["gid"] == 1]
    assert int(by_type["n_events"].sum()) == int(grand["n_events"].iloc[0])
    by_hour = rows[rows["gid"] == 2]
    assert int(by_hour["n_events"].sum()) == int(grand["n_events"].iloc[0])


def test_events_cube_null_key_vs_subtotal(spark):
    """The gid pin: a GENUINE NULL group key keeps grouping()=0 (it is
    a real data group), a subtotal row sets the bit — the only
    portable way to tell them apart, identical in both engines."""
    import duckdb

    pdf = pd.DataFrame({
        "event_type": ["click", None, "click", None],
        "ts": pd.to_datetime(["2024-01-01 05:00", "2024-01-01 05:30",
                              "2024-01-01 06:00", "2024-01-01 05:45"]),
        "value": [1.0, 2.0, 3.0, 4.0]})
    ns = spark.newSession()
    ns.createDataFrame(pdf).createOrReplaceTempView("events")
    con = duckdb.connect()
    con.register("events", pdf)
    s = canonicalize(ns.sql(EO.events_cube(SPARK)).toPandas())
    d = canonicalize(con.sql(EO.events_cube(DUCK)).df())
    assert s.equals(d)
    rows = ns.sql(EO.events_cube(SPARK)).toPandas()
    # genuine NULL event_type at hod 5 is a gid=0 cell (2 events);
    # the per-hour margin for hod 5 is gid=2 and covers 3 events
    null_cell = rows[(rows["gid"] == 0) & rows["event_type"].isna()
                     & (rows["hod"] == 5)]
    assert len(null_cell) == 1 and int(null_cell["n_events"].iloc[0]) == 2
    margin5 = rows[(rows["gid"] == 2) & (rows["hod"] == 5)]
    assert len(margin5) == 1 and int(margin5["n_events"].iloc[0]) == 3


# --- docs_release_manifest ---------------------------------------------------

def test_release_manifest_matches_oracle(spark, ddb):
    """The composed capstone (pipeline ∩ near-dup keepers ∩
    decontaminated, packed per split) == the self-contained
    recursive-CTE DuckDB composition."""
    assert_matches_oracle(CO.docs_release_manifest_df(spark), ddb,
                          CO.docs_release_manifest_oracle(DUCK))


def test_release_manifest_reconciles_with_rails(spark):
    """Manifest totals must equal the independently-computed release
    set: pipeline keep=1 ∩ near-dup keep ∩ decontaminated ship list —
    and shards within a split must tile the id range."""
    man = CO.docs_release_manifest_df(spark).toPandas()
    pipe = (spark.sql(CO.docs_curation_pipeline(SPARK)).toPandas())
    keep_pipe = set(pipe[pipe["keep"] == 1]["doc_id"])
    nd = dedup.docs_near_dedup_apply_df(
        spark, pairs_view=dedup.ensure_minhash_pairs_view(spark)).toPandas()
    keep_nd = set(nd[nd["keep"]]["doc_id"])
    ship = set(spark.sql(CO.docs_decontaminated(
        SPARK, base=CO.ensure_contam_view(spark))).toPandas()["doc_id"])
    released = keep_pipe & keep_nd & ship
    assert int(man["n_docs"].sum()) == len(released)
    for split, g in man.groupby("split"):
        g = g.sort_values("shard_id")
        assert list(g["shard_id"]) == list(range(len(g)))
        # shards partition the split's id order: ranges never overlap
        assert (g["first_doc_id"].iloc[1:].values
                > g["last_doc_id"].iloc[:-1].values).all()


def test_caption_pairs_matches_oracle(spark, ddb):
    view = M.ensure_phash_view(spark)
    assert_matches_oracle(
        spark.sql(M.media_caption_pairs(SPARK, base=view)), ddb,
        M.media_caption_pairs(DUCK))


def test_caption_pairs_twins_share_caption(spark):
    rows = spark.sql(M.media_caption_pairs(
        SPARK, base=M.ensure_phash_view(spark))).toPandas()
    twins = rows[rows["media_id"] >= M.PHASH_VARIANT_OFFSET]
    assert len(twins) > 0
    assert (twins["caption_id"]
            == twins["media_id"] - M.PHASH_VARIANT_OFFSET).all()
    originals = rows[rows["media_id"] < M.PHASH_VARIANT_OFFSET]
    assert (originals["caption_id"] == originals["media_id"]).all()


def test_pairs_near_dedup_matches_oracle(spark, ddb):
    pv = dedup.ensure_minhash_pairs_view(spark)
    base = M.ensure_phash_view(spark)
    assert_matches_oracle(
        spark.sql(M.pairs_near_dedup(SPARK, base=base, pairs_view=pv)),
        ddb, M.pairs_near_dedup(DUCK))


def test_pairs_near_dedup_finds_planted_twin_pairs(spark):
    """On the fixture corpus the duplicate pair-of-pairs set is
    exactly the planted noisy twins: media within hamming 4 by
    construction, captions literally shared."""
    from tests.conftest import SF_DIR

    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")[["doc_id", "text"]]
    eligible = docs[(docs["doc_id"] % M.PHASH_VARIANT_EVERY == 0)
                    & (docs["text"].str.len() > M.PHASH_BITS)]["doc_id"]
    expected = {(int(i), int(i) + M.PHASH_VARIANT_OFFSET) for i in eligible}
    rows = spark.sql(M.pairs_near_dedup(
        SPARK, base=M.ensure_phash_view(spark),
        pairs_view=dedup.ensure_minhash_pairs_view(spark))).toPandas()
    got = {(int(a), int(b)) for a, b in zip(rows["pair_a"], rows["pair_b"])}
    assert got == expected
    assert (rows["caption_identical"] == 1).all()
    assert (rows["caption_jaccard"] == 1.0).all()


def test_release_refresh_matches_oracle(spark, ddb):
    """docs_release_refresh (r11 verdict task 4): the Spark
    stored+delta composition == the self-contained DuckDB oracle."""
    assert_matches_oracle(CO.docs_release_refresh_df(spark), ddb,
                          CO.docs_release_refresh_oracle(DUCK))


def test_release_refresh_equals_full_recompute(spark):
    """The IVM contract: the refreshed manifest must equal
    docs_release_manifest_df row-for-row on every shared column, the
    in-row audit must agree (all matches_recompute true), and the
    delta must be non-trivial (the synthetic nightly batch really
    lands in the tail shards — append-only ids mean ONLY the last
    stored shard per split can receive delta docs)."""
    ref = CO.docs_release_refresh_df(spark).toPandas()
    man = CO.docs_release_manifest_df(spark).toPandas()
    assert ref["matches_recompute"].all()
    assert int(ref["n_docs_delta"].sum()) > 0
    shared = ["split", "shard_id", "path", "n_docs", "n_tokens",
              "n_bytes", "checksum_xor", "first_doc_id", "last_doc_id"]
    r = (ref[shared].sort_values(["split", "shard_id"])
         .reset_index(drop=True))
    mm = (man[shared].sort_values(["split", "shard_id"])
          .reset_index(drop=True))
    assert r.astype(str).equals(mm.astype(str))
    # append-only: within each split, delta docs land only at/after
    # the last stored shard
    for split, g in ref.groupby("split"):
        touched = g[g["n_docs_delta"] > 0]["shard_id"]
        stored = g[g["n_docs_stored"] > 0]["shard_id"]
        if len(touched) and len(stored):
            assert touched.min() >= stored.max()


def test_pairs_release_manifest_matches_oracle(spark, ddb):
    """The paired-modality capstone (r11 verdict task 3): the Spark
    two-phase-cumsum composition == the self-contained oracle with
    its per-split rank window."""
    assert_matches_oracle(M.pairs_release_manifest_df(spark), ddb,
                          M.pairs_release_manifest(DUCK))


def test_pairs_release_manifest_reconciles_with_rails(spark):
    """Manifest totals must equal the independently-computed release
    set (pair universe ∩ pair-near-dedup keepers ∩ caption keep=1);
    shards are count-packed ({M.PAIRS_PER_SHARD} per shard, remainder
    last) and tile the pair-id order per split; and the keep-lowest
    rule holds: every dropped pair is the HIGHER endpoint of an edge,
    every planted twin drops while its original ships."""
    import aws_trusted_advisor_explorer_spark.operators.corpusops as CO2

    man = M.pairs_release_manifest_df(spark).toPandas()
    base = M.ensure_phash_view(spark)
    pv = dedup.ensure_minhash_pairs_view(spark)
    pairs = spark.sql(M.media_caption_pairs(SPARK, base=base)).toPandas()
    edges = spark.sql(M.pairs_near_dedup(
        SPARK, base=base, pairs_view=pv)).toPandas()
    pipe = spark.sql(CO2.docs_curation_pipeline(SPARK)).toPandas()
    keep_cap = set(pipe[pipe["keep"] == 1]["doc_id"])
    dropped = set(edges["pair_b"])
    released = {int(p) for p, c in zip(pairs["pair_id"],
                                       pairs["caption_id"])
                if int(c) in keep_cap and int(p) not in dropped}
    assert int(man["n_pairs"].sum()) == len(released)
    # planted twins whose caption survives curation: original ships,
    # twin drops (keep-lowest — the twin is always the higher id)
    twin_edges = edges[edges["caption_identical"] == 1]
    assert len(twin_edges) > 0
    assert (twin_edges["pair_b"] > twin_edges["pair_a"]).all()
    for split, g in man.groupby("split"):
        g = g.sort_values("shard_id")
        assert list(g["shard_id"]) == list(range(len(g)))
        assert (g["n_pairs"].iloc[:-1] == M.PAIRS_PER_SHARD).all()
        assert 1 <= g["n_pairs"].iloc[-1] <= M.PAIRS_PER_SHARD
        assert (g["first_pair_id"].iloc[1:].values
                > g["last_pair_id"].iloc[:-1].values).all()


def test_pairs_release_refresh_matches_oracle(spark, ddb):
    """pairs_release_refresh (r12): the Spark stored+delta composition
    == the self-contained DuckDB oracle."""
    assert_matches_oracle(M.pairs_release_refresh_df(spark), ddb,
                          M.pairs_release_refresh(DUCK))


def test_pairs_release_refresh_equals_full_recompute(spark):
    """The pair-level IVM contract: the refreshed manifest equals
    pairs_release_manifest_df row-for-row on every shared column, the
    in-row audit agrees everywhere, the delta is non-trivial, and
    append-only ids mean only each split's tail shards receive delta
    pairs."""
    ref = M.pairs_release_refresh_df(spark).toPandas()
    man = M.pairs_release_manifest_df(spark).toPandas()
    assert ref["matches_recompute"].all()
    assert int(ref["n_pairs_delta"].sum()) > 0
    shared = ["split", "shard_id", "path", "n_pairs",
              "n_caption_tokens", "n_caption_bytes",
              "caption_checksum_xor", "media_checksum_xor",
              "first_pair_id", "last_pair_id"]
    r = (ref[shared].sort_values(["split", "shard_id"])
         .reset_index(drop=True))
    mm = (man[shared].sort_values(["split", "shard_id"])
          .reset_index(drop=True))
    assert r.astype(str).equals(mm.astype(str))
    for split, g in ref.groupby("split"):
        touched = g[g["n_pairs_delta"] > 0]["shard_id"]
        stored = g[g["n_pairs_stored"] > 0]["shard_id"]
        if len(touched) and len(stored):
            assert touched.min() >= stored.max()


def test_release_refresh_audit_flags_a_wrong_shard_counter(spark):
    """The refresh audit checks the merged manifest against the ranged
    rail itself: one shard counter planted off by one flags every row
    of its split false and leaves the other splits true, for both the
    doc and the pair refresh."""
    from pyspark.sql import functions as F

    for refresh, ensure, agg, counter in (
            (CO.docs_release_refresh_df, CO.ensure_release_rel_view,
             CO._manifest_agg_df, "n_tokens"),
            (M.pairs_release_refresh_df, M.ensure_pairs_release_rel_view,
             M._pairs_manifest_agg_df, "n_pairs")):
        m = refresh(spark).drop("matches_recompute")
        bad = m.orderBy("split", "shard_id").first()
        hit = ((F.col("split") == bad.split)
               & (F.col("shard_id") == bad.shard_id))
        planted = m.withColumn(
            counter, F.when(hit, F.col(counter) + 1)
            .otherwise(F.col(counter)))
        out = CO._split_audit_df(planted, spark.table(ensure(spark)),
                                 agg).toPandas()
        assert len(out) == m.count()
        flags = out.groupby("split")["matches_recompute"]
        assert len(flags) > 1, counter
        assert not flags.any()[bad.split], counter
        assert flags.all().drop(bad.split).all(), counter


def test_phash_plane_guards_variant_offset(spark):
    """r11 advice: a genuine doc_id at/above PHASH_VARIANT_OFFSET
    would silently alias planted twins onto wrong captions — the
    plane build must fail loudly instead."""
    ns = spark.newSession()
    long_text = "x" * (M.PHASH_BITS + 20)
    ns.createDataFrame(pd.DataFrame({
        "doc_id": [1, M.PHASH_VARIANT_OFFSET + 7],
        "text": [long_text, long_text],
        "lang": ["en", "en"], "source": ["a", "a"],
    })).createOrReplaceTempView("documents")
    with pytest.raises(Exception, match="PHASH_VARIANT_OFFSET"):
        ns.sql(M._phash_sig_cte(SPARK) +
               "\nSELECT doc_id, ph FROM s").collect()


def test_pairs_near_dedup_requires_both_modalities(spark):
    """The AND contract: a media-side match whose captions neither
    coincide nor appear in the text pair graph is NOT a pair dup;
    wiring the caption pair into the graph admits it (with the
    graph's jaccard)."""
    ns = spark.newSession()
    text = ("the quick brown fox jumps over the lazy dog again and "
            "again until the fence falls over completely")
    # identical payloads -> phash hamming 0 (media match), distinct ids
    ns.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2], "text": [text, text],
        "lang": ["en", "en"], "source": ["a", "b"],
    })).createOrReplaceTempView("documents")
    # empty text pair graph -> excluded despite the media match
    ns.createDataFrame(
        [], "doc_a long, doc_b long, jaccard double"
    ).createOrReplaceTempView("empty_pairs")
    got = ns.sql(M.pairs_near_dedup(
        SPARK, pairs_view="empty_pairs")).toPandas()
    assert len(got) == 0
    # the same captions wired into the pair graph -> admitted
    ns.createDataFrame(pd.DataFrame({
        "doc_a": [1], "doc_b": [2], "jaccard": [0.93],
    })).createOrReplaceTempView("wired_pairs")
    got = ns.sql(M.pairs_near_dedup(
        SPARK, pairs_view="wired_pairs")).toPandas()
    assert len(got) == 1
    assert int(got["media_hamming"].iloc[0]) == 0
    assert int(got["caption_identical"].iloc[0]) == 0
    assert got["caption_jaccard"].iloc[0] == pytest.approx(0.93)
