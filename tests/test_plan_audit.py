"""Automated scale-anti-pattern audit over EVERY driver-contract query.

The scale rules the operators claim (SCALE.md) are enforceable from the
executed plan, so this gate turns the manual `.explain` audit into a
regression test: a future edit that sneaks a cartesian product or a
row-at-a-time Python UDF into any query fails CI, not a code review.

What is checked per plan:
- ``CartesianProduct``: never allowed — an unconstrained cross join is
  quadratic at any scale.
- ``BatchEvalPython`` (row-at-a-time Python UDF): never allowed — the
  only Python permitted in the data plane is Arrow-batched
  (``ArrowEvalPython`` / ``MapInPandas``/``FlatMapGroupsInPandas``).
- ``BroadcastNestedLoopJoin``: allowed ONLY for the allowlisted queries
  whose broadcast side is tiny by construction (a handful of probe
  queries, per-step user sets, or a single-row total); anywhere else it
  signals a non-equi join that lost its equi-rail.
"""

from __future__ import annotations

from tests.conftest import SF_DIR

# BroadcastNestedLoopJoin with a small-by-construction broadcast side:
#   knn_bruteforce      — exact baseline: the PROBE SET (vec_id % mod)
#                         broadcasts; the corpus side never shuffles
#   knn_recall_at_k     — embeds knn_bruteforce verbatim as its exact arm
#   knn_ivfpq_adc       — per-query LUT relation broadcast to code rows
#   pq_recall_report    — embeds the ADC searcher + exact in-cell arm
#   events_funnel       — step N joins the previous step's user-sized
#                         relation on a strictly-after condition
#   events_key_skew_audit — single-row global total joined to top-N keys
#   embeddings_sq_int8  — the DIM-row (64) dims relation cross-joined to
#                         emulate posexplode dialect-portably (same shape
#                         the KMeans trainer inlines; its queries() entry
#                         reads the materialized view instead)
#   docs_bm25_topk      — single-row corpus-stats relation (N, sum_dl)
#                         cross-joined into the per-term score rows
#   docs_merge_cdc      — single-row max-id relation cross-joined into
#                         the insert branch of the change feed
#   docs_language_balance_plan — single-row (total_tokens, n_langs)
#                         relation cross-joined into the lang rollup
#   knn_index_upsert    — the DIM-row (64) dims relation cross-joined
#                         to emulate posexplode dialect-portably (the
#                         embeddings_sq_int8 / KMeans-trainer shape)
BNLJ_ALLOWED = {
    "knn_bruteforce", "knn_recall_at_k", "knn_ivfpq_adc",
    "pq_recall_report", "events_funnel", "events_key_skew_audit",
    # embeddings_matryoshka_recall — exact-truth gate, same broadcast
    #     query-probe cross join as knn_bruteforce/knn_recall_at_k
    "embeddings_matryoshka_recall",
    # knn_pca_prefix — the same exact-truth gate shape (BROADCAST(q)
    #     pinned in the SQL because the query side reaches the join
    #     through the zv projection join), plus the 16-row broadcast
    #     direction table onto the corpus scan
    "knn_pca_prefix",
    # docs_release_refresh / pairs_release_refresh — the one-row
    #     id-cut scalar broadcast onto the released relation (the
    #     events_hist_quantiles shape)
    "docs_release_refresh", "pairs_release_refresh",
    "embeddings_sq_int8", "docs_bm25_topk", "docs_merge_cdc",
    "docs_language_balance_plan", "knn_index_upsert",
    # docs_span_coverage — two single-row aggregate relations cross-
    #                       joined for the one-row report
    "docs_span_coverage",
    # docs_temperature_mix — the 1-row (total_tokens, total_w)
    #            normalizer cross-joined into the source-cardinality
    #            weight relation (same shape as language_balance_plan)
    "docs_temperature_mix",
    # tpch_q22 — single-row (balance sum, count) average relation
    #            cross-joined into the customer pool (the pool scan is
    #            a cheap filtered customer read, so the double CTE
    #            evaluation is cheaper than a single-partition window
    #            over the pool would be)
    "tpch_q22",
    # tpch_q11 / tpch_q15 — single-row (total, count) / (max) stats
    #            relation cross-joined back into the SF-scaled grouped
    #            value/revenue relation (the q22 pattern; replaced the
    #            earlier unpartitioned-window form, which
    #            single-partitioned a dimension-times-SF relation —
    #            the second CTE evaluation re-aggregates from the same
    #            shuffle under exchange reuse)
    "tpch_q11", "tpch_q15",
    # docs_kmv_distinct_union — five single-row sketch-stat relations
    #            (direct/merged kth-min, exact count, source count,
    #            disagreement count) cross-joined for the one-row
    #            report; every input relation is sketch-sized
    #            (<= shards x k rows) by construction
    "docs_kmv_distinct_union",
    # events_hist_quantiles — the 1-row global bounds aggregate
    #            broadcast back onto the scan (fixed bin edges are what
    #            makes the histogram counts mergeable) and onto the
    #            one-row-per-type report
    "events_hist_quantiles",
    # knn_hamming_rerank — the sign-signature preselect cross join:
    #            query-probe set x corpus like knn_bruteforce, but the
    #            joined rows carry ONLY the two 8-byte signature words
    #            (the 512-byte vectors re-enter by vec_id equi-join for
    #            pool-sized relations afterwards)
    "knn_hamming_rerank",
    # knn_hamming_recall — embeds knn_bruteforce + knn_hamming_rerank
    #            (both allowlisted above); the gate join itself is
    #            top-k-relation-sized
    "knn_hamming_recall",
    # docs_kmv_source_overlap — the source-PAIR generator (srcs a
    #            JOIN srcs b ON a.source < b.source) is an inequality
    #            join of two source-count-sized relations (tens of
    #            rows by construction; sources are corpus feeds, not
    #            data rows) — everything downstream is sketch-sized
    "docs_kmv_source_overlap",
    # text_heaps_vocab_growth — the 1-row (min_id, max_id) span
    #            relation cross-joined into the bucket projection (the
    #            docs_bm25_topk corpus-stats shape)
    "text_heaps_vocab_growth",
    # docs_length_mad_outliers — the 1-row median and MAD relations
    #            cross-joined back onto the scan (the docs_bm25_topk
    #            corpus-stats shape)
    "docs_length_mad_outliers",
    # text_zipf_profile — the 17-row power-of-two checkpoint relation
    #            cross-joined to the compacted frequency histogram
    #            (both bounded by construction)
    "text_zipf_profile",
    # dedup_band_tuning — the 1-row truth-count relation cross-joined
    #            into the 4-row config summary (the docs_bm25_topk
    #            corpus-stats shape)
    "dedup_band_tuning",
    # embeddings_power_iteration — per-round 1-row max relations (the
    #            rescale normalizer and the headroom guard) cross-
    #            joined into dim-row / dim²-row relations
    "embeddings_power_iteration",
    # knn_serving_report — embeds the allowlisted query-probe-broadcast
    #            arms (knn_bruteforce's exact truth, the hamming
    #            signature preselect, the matryoshka prefix arm) plus
    #            one-row count relations cross-joined into the 5-row
    #            report; every join downstream of the rungs is
    #            top-k-relation-sized
    "knn_serving_report",
    # media_phash_sig (plane build) — the 1-row max(doc_id) offset
    #            guard cross-joined onto both arms of the twin splice
    #            (the docs_bm25_topk corpus-stats shape)
    "media_phash_sig",
}

FORBIDDEN = ("CartesianProduct", "BatchEvalPython")

# Unpartitioned WindowExec (Spark's own "No Partition Defined ... Moving
# all data to a single partition" warning) is allowed ONLY where the
# windowed relation is BOUNDED by construction — never corpus-sized:
#   text_vocab_topk        — ranks only the <=100 ORDER BY+LIMIT
#                            survivors (corpusops.py, text_vocab_topk)
#   events_key_skew_audit  — ranks only the post-LIMIT top-N key rows
#                            (eventops.py, events_key_skew_audit)
#   docs_pack_bins         — the bounded offsets window of
#                            functions.ranged.prefix_total runs over ONE
#                            ROW PER RANGE PARTITION, O(partitions)
#   docs_quality_cutoff_calibration — the same prefix_total offsets
#                            window (count rank, no grouping column)
#   docs_pack_efficiency   — rolls up docs_pack_bins_df, so it carries
#                            the same prefix_total offsets window
#   docs_kmv_distinct_union — every windowed relation is sketch-sized
#                            by construction (<= KMV_SHARDS x KMV_K =
#                            4096 rows: per-shard k-minima and their
#                            union), never corpus-sized
WINDOW_UNPART_ALLOWED = {
    # events_user_gini — the prefix window runs over the COMPACTED
    #                    per-count histogram (≤ |distinct per-user
    #                    count values| rows), never per-user rows
    "events_user_gini",
    # text_heaps_vocab_growth — the cumulative window runs over the
    #                    10-row checkpoint relation
    "text_heaps_vocab_growth",
    # dedup_band_tuning — per-config candidate-count window over the
    #                    near-dup-pair-sized candidate relation
    #                    (BAND_CAP bounds per-bucket fan-out)
    "dedup_band_tuning",
    # docs_length_mad_outliers — two prefix windows over COMPACTED
    #                    value histograms (bounded by the n_chars /
    #                    deviation value domains, never corpus rows)
    "docs_length_mad_outliers",
    # text_zipf_profile — prefix window over the compacted frequency
    #                    histogram + a lag window over the ≤17-row
    #                    checkpoint relation
    "text_zipf_profile",
    "text_vocab_topk", "events_key_skew_audit", "docs_pack_bins",
    "docs_quality_cutoff_calibration", "docs_pack_efficiency",
    "docs_kmv_distinct_union",
    # totals window over the DSIR_BUCKETS-row (<=1024) hashed-feature
    # relation — bounded by construction, never corpus-scale
    "docs_dsir_importance",
    # drift ranking window over the dim^2/2-row (2080) aggregated
    # Gram-pair relation — bounded by construction, never corpus-scale
    "embeddings_drift_audit",
}


def _unpartitioned_windows(df) -> int:
    """Count WindowExec nodes with an empty partitionSpec in the
    (initial, pre-AQE) physical plan, walking the JVM tree."""
    plan = df._jdf.queryExecution().executedPlan()
    n = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
            continue
        if cls == "WindowExec" and node.partitionSpec().isEmpty():
            n += 1
        kids = node.children()
        for i in range(kids.length()):
            stack.append(kids.apply(i))
    return n


def test_no_scale_antipatterns_in_any_query_plan(spark):
    import __spark_entry__ as entrymod

    failures = []
    for name, fn in entrymod.queries().items():
        df = fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in FORBIDDEN:
            if node in plan:
                failures.append(f"{name}: {node}")
        if "BroadcastNestedLoopJoin" in plan and name not in BNLJ_ALLOWED:
            failures.append(f"{name}: unexpected BroadcastNestedLoopJoin")
        if name not in WINDOW_UNPART_ALLOWED and _unpartitioned_windows(df):
            failures.append(f"{name}: unpartitioned WindowExec over a "
                            f"non-allowlisted relation")
    assert not failures, "\n".join(failures)


def test_no_scale_antipatterns_in_any_plane_build(spark, monkeypatch):
    """The query-plan audit above, applied to the DataFrame of every
    session-plane build: each plane is rebuilt on a fresh session at
    sf0.001, and every DataFrame a build hands to
    ``materialize_plane_df`` is checked before it is checkpointed (a
    key's plan sees only the checkpointed scan). Planes are
    allowlisted by label in the same tables as keys."""
    import sys

    import __spark_entry__ as entrymod
    from aws_trusted_advisor_explorer_spark import session as sess
    from aws_trusted_advisor_explorer_spark.session import load_tables

    entrymod.queries()  # imports every operator module: registers planes
    real = sess.materialize_plane_df
    failures, seen = [], set()

    def audited(df, view_name):
        label = sess._building()[0]
        seen.add(label)
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in FORBIDDEN:
            if node in plan:
                failures.append(f"{label} ({view_name}): {node}")
        if "BroadcastNestedLoopJoin" in plan and label not in BNLJ_ALLOWED:
            failures.append(f"{label} ({view_name}): unexpected "
                            f"BroadcastNestedLoopJoin")
        if label not in WINDOW_UNPART_ALLOWED and _unpartitioned_windows(df):
            failures.append(f"{label} ({view_name}): unpartitioned "
                            f"WindowExec over a non-allowlisted relation")
        return real(df, view_name)

    for mod in list(sys.modules.values()):
        if getattr(mod, "materialize_plane_df", None) is real:
            monkeypatch.setattr(mod, "materialize_plane_df", audited)
    ns = spark.newSession()
    load_tables(ns, SF_DIR)
    for ensure in sess.SESSION_PLANES.values():
        ensure(ns, key=SF_DIR)
    assert not failures, "\n".join(failures)
    # every plane but the merge list (a driver-side value) materializes
    assert set(sess.SESSION_PLANES) - seen == {"bpe_merges"}


def _formatted(spark, df) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted"))


def test_reference_view_plan_shape(spark):
    """POSITIVE plan assertions for the reference views (the shape
    SCALE.md claims): the with-tags form is one scan + one BROADCAST
    exchange (the as-of tags dim) + join + project — no shuffle
    exchange, no sort anywhere; the tags scan is column-pruned to its
    4 needed columns with the join-key null filters pushed into the
    parquet reader. The degraded no-tags twin has NO exchange at all
    (pure scan + project)."""
    import re

    import __spark_entry__ as entrymod

    q = entrymod.queries()
    for key in ("view_low_util_ec2", "view_rds_idle", "view_idle_elb"):
        plan = _formatted(spark, q[key](spark, SF_DIR))
        assert "BroadcastExchange" in plan, key
        assert "Exchange hashpartitioning" not in plan, key
        assert "Sort " not in plan, key
        tags_scan = re.search(
            r"Output \[4\]: \[datetime#\d+, resourceid#\d+", plan)
        assert tags_scan, f"{key}: tags scan not pruned to 4 columns"
        assert re.search(r"PushedFilters: \[IsNotNull\(resourceid\)", plan), \
            f"{key}: tags join-key filters not pushed to the scan"
        plan_nt = _formatted(spark, q[f"{key}_no_tags"](spark, SF_DIR))
        assert "Exchange" not in plan_nt, f"{key}_no_tags"


def test_scd2_single_exchange_serves_stacked_windows(spark):
    """POSITIVE plan assertion for events_scd2_history (r8): the
    docstring's scale claim is that ONE user_id hash exchange serves
    the lag window, the running-sum window, the per-run aggregate and
    the lead window (all partition by user_id, so Spark stacks them on
    one shuffle). A refactor that breaks the shared partitioning would
    add exchanges silently — this pins the executed count at exactly
    one hashpartitioning exchange and zero broadcast exchanges."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()
    df = q["events_scd2_history"](spark, SF_DIR)
    # executedPlan().toString() prints "Exchange hashpartitioning(...)"
    # inline; formatted mode hides the arguments on a separate line
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
    assert "BroadcastExchange" not in plan
    assert "CartesianProduct" not in plan


def test_r9_operator_plan_shapes(spark):
    """POSITIVE plan assertions for the r9 operators' scale claims —
    exchange inventories pinned so a refactor that silently adds a
    corpus-scale shuffle (or loses a broadcast to a shuffle join)
    fails here:

    * events_transition_matrix: exactly 3 hash exchanges — user_id
      (the one corpus-scale shuffle feeding lag), the (prev, next)
      aggregate, and the prev-keyed normalizing window over the
      type²-sized relation; no broadcast, no cartesian.
    * docs_ngram_novelty (plane-backed): exactly 2 hash exchanges —
      the hv first-introducer window and the doc_id groupBy — and the
      join back to documents stays a BROADCAST of the doc-count-sized
      report side.
    * docs_epoch_shuffle_plan: exactly 3 hash exchanges — the
      (epoch, shard) rank window, the (epoch, shard) size aggregate,
      and the epoch-keyed offset window over the epochs×shards
      relation — with the offset join back a BROADCAST; no global
      sort-without-partitioning anywhere (the no-terasort claim).
    * events_watermark_plan_sharded: every event-scale exchange
      carries (event_type, shard) — the whole-type exchanges are the
      shard-maxima prefix window and the compacted-CDF rank, both
      bounded relations — and the prefix-merge join is a BROADCAST.
    """
    import re

    import __spark_entry__ as entrymod

    q = entrymod.queries()

    def shape(key):
        plan = q[key](spark, SF_DIR)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "CartesianProduct" not in plan, key
        hashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        return plan, hashes

    plan, hashes = shape("events_transition_matrix")
    assert len(hashes) == 3 and "BroadcastExchange" not in plan, hashes
    assert any(h.startswith("user_id") for h in hashes), hashes

    plan, hashes = shape("docs_ngram_novelty")
    assert len(hashes) == 2, hashes
    assert any(h.startswith("hv") for h in hashes), hashes
    assert plan.count("BroadcastExchange") == 1, plan[:2000]

    plan, hashes = shape("docs_epoch_shuffle_plan")
    assert len(hashes) == 3, hashes
    assert sum(1 for h in hashes if "shard" in h) == 2, hashes
    assert plan.count("BroadcastExchange") == 1, plan[:2000]

    plan, hashes = shape("events_watermark_plan_sharded")
    assert plan.count("BroadcastExchange") == 1, plan[:2000]
    assert sum(1 for h in hashes if "shard" in h) == 2, hashes


def test_scan_pushdown_reaches_parquet(spark):
    """Predicate pushdown regression gate: tpch_q6's selective filters
    (date range, discount band, quantity cap) must surface as
    PushedFilters on the lineitem scan — at 100 TB these prune row
    groups before any row is materialized; a refactor that wraps the
    columns in expressions Catalyst cannot push (e.g. a cast on the
    column side of the comparison) silently turns the scan into a
    full read and THIS assertion is what catches it."""
    import __spark_entry__ as entrymod

    plan = _formatted(
        spark, entrymod.queries()["tpch_q6"](spark, SF_DIR))
    for pushed in ("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
                   "GreaterThanOrEqual(l_discount", "LessThan(l_quantity"):
        assert pushed in plan, f"q6 filter not pushed: {pushed}"


def test_r9_session2_operator_plan_shapes(spark):
    """POSITIVE plan assertions for the second-wave r9 operators:

    * events_pit_features / events_training_labels: exactly ONE
      user_id hash exchange and ONE in-partition sort serve every
      value-range frame — the docstring's one-exchange claim; no
      join, no broadcast.
    * embeddings_covariance (Arrow partial twin): exactly ONE hash
      exchange, and it carries the dim-pair key (2080-group partials,
      never corpus rows); no sort, no join.
    * knn_filtered (two-level IVF twin): the scan is the partitioned
      index (PartitionFilters prune per probe at serving time), the
      candidate join is broadcast-able, and the only hash exchange is
      the per-query rank window.
    * dedup_minhash_estimate: the signature joins key on doc_id (the
      pair-graph-sized audit side), never a corpus cross product.
    """
    import re

    import __spark_entry__ as entrymod

    q = entrymod.queries()

    def shape(key):
        plan = q[key](spark, SF_DIR)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "CartesianProduct" not in plan, key
        hashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        return plan, hashes

    for key in ("events_pit_features", "events_training_labels"):
        plan, hashes = shape(key)
        assert len(hashes) == 1, (key, hashes)
        assert hashes[0].startswith("user_id"), (key, hashes)
        assert "BroadcastExchange" not in plan, key
        assert plan.count("Sort ") == 1, key

    # r13: the covariance report reads the session Gram plane
    # (similarity.ensure_emb_gram_view) — the one dim-pair partial-agg
    # exchange moved into the priced plane BUILD, and the report
    # itself is a plane scan with no exchange at all. Pin both.
    plan, hashes = shape("embeddings_covariance")
    assert len(hashes) == 0, hashes
    assert "Sort " not in plan and "BroadcastExchange" not in plan
    from aws_trusted_advisor_explorer_spark.operators import (
        similarity as _S,
    )

    bplan = (_S.embeddings_covariance_df(spark)._jdf.queryExecution()
             .executedPlan().toString())
    bhashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", bplan)
    assert len(bhashes) == 1, bhashes
    assert bhashes[0].startswith("dim_i"), bhashes

    plan, hashes = shape("knn_filtered")
    assert len(hashes) == 1 and hashes[0].startswith("query_id"), hashes
    assert plan.count("BroadcastExchange") == 1, plan[:2000]

    plan, hashes = shape("dedup_minhash_estimate")
    assert all(h.startswith("doc_id") for h in hashes), hashes


def test_r10_operator_plan_shapes(spark):
    """POSITIVE plan assertions for the r10 operators' scale claims —
    exchange inventories pinned (the r9-wave rule):

    * events_user_gini: exactly 2 hash exchanges — the user_id groupBy
      (the one corpus-scale shuffle) and the compacted count-histogram
      groupBy; the prefix window's single partition holds only the
      compacted histogram (allowlisted); no broadcast, no join.
    * events_bot_cadence_audit: exactly ONE user_id hash exchange
      serves the lag window, the gap-rank window, and the per-user
      aggregate; no broadcast, no join.
    * embeddings_clip_calibration: exactly 2 hash exchanges (the
      (dim, micro-value) histogram partial and the per-dim window) and
      ZERO single-partition funnels — the rank windows are PARTITIONED
      by dim.
    * embeddings_power_iteration: exactly ONE MapInPandas (the
      iteration kernel; the Gram feeds it from one lazy checkpoint —
      a refactor that drops the checkpoint re-expands the covariance
      kernel per reference and fails here) and no hash exchange
      downstream of the checkpointed Gram.
    * text_heaps_vocab_growth (plane-backed): the id-span relation and
      the checkpoint joins stay BROADCAST; no cartesian.
    """
    import re

    import __spark_entry__ as entrymod

    q = entrymod.queries()

    def shape(key):
        plan = q[key](spark, SF_DIR)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "CartesianProduct" not in plan, key
        hashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        return plan, hashes

    plan, hashes = shape("events_user_gini")
    assert len(hashes) == 2, hashes
    assert any(h.startswith("user_id") for h in hashes), hashes
    assert "BroadcastExchange" not in plan and "Join" not in plan

    plan, hashes = shape("events_bot_cadence_audit")
    assert len(hashes) == 1 and hashes[0].startswith("user_id"), hashes
    assert "BroadcastExchange" not in plan and "Join" not in plan

    plan, hashes = shape("embeddings_clip_calibration")
    assert len(hashes) == 2, hashes
    assert "SinglePartition" not in plan, plan[:2000]
    assert "BroadcastExchange" not in plan

    plan, hashes = shape("embeddings_power_iteration")
    assert plan.count("MapInPandas") == 1, plan[:2000]
    assert len(hashes) == 0, hashes

    plan, hashes = shape("text_heaps_vocab_growth")
    assert plan.count("BroadcastExchange") >= 1
    assert "CartesianProduct" not in plan


def test_r11_operator_plan_shapes(spark):
    """POSITIVE plan assertions for the r11 operators:

    * events_cube: ONE Expand (the 4-set lattice materializes per
      input row, never a per-set rescan — exactly one scan of events)
      feeding a partial+final hash aggregate with exactly ONE hash
      exchange; no join, no window.
    * docs_release_manifest: the per-split running total
      (functions.ranged.prefix_total) keeps its RANGE repartition
      (never a global single-partition sort); every window is
      partitioned, the offsets window by split; offsets come back via
      broadcast.
    * pairs_near_dedup / media_caption_pairs: hash-plane joins only —
      no cartesian anywhere.
    """
    import re

    import __spark_entry__ as entrymod

    q = entrymod.queries()

    def shape(key):
        plan = q[key](spark, SF_DIR)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "CartesianProduct" not in plan, key
        hashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        return plan, hashes

    plan, hashes = shape("events_cube")
    assert plan.count("Expand") == 1, plan[:2000]
    assert len(hashes) == 1, hashes
    assert plan.count("Scan") == 1, plan[:2000]
    assert "Join" not in plan and "Window" not in plan

    plan, hashes = shape("docs_release_manifest")
    # the range-partitioned doc relation is the localCheckpointed
    # plane (lineage cut -> the final plan reads it as an RDD scan;
    # the range exchange lives in the checkpoint's build,
    # functions.ranged.range_layout)
    assert "Scan ExistingRDD" in plan, plan[:2000]
    assert "BroadcastExchange" in plan
    # every WindowExec is partitioned (the two-phase cumsum rule)
    assert not _unpartitioned_windows(
        q["docs_release_manifest"](spark, SF_DIR))

    plan, _ = shape("pairs_near_dedup")
    assert "BatchEvalPython" not in plan
    plan, _ = shape("media_caption_pairs")
    assert "BatchEvalPython" not in plan


def test_r12_operator_plan_shapes(spark):
    """POSITIVE plan assertions for the r12 operators:

    * knn_pca_prefix: the direction table rides ONE MapInPandas (the
      dim²-sized numpy kernel — via the session plane's checkpointed
      RDD scan) and reaches the corpus through broadcast joins; the
      pinned BROADCAST(q) keeps both exact ranking arms on the
      broadcast-nested-loop shape (never CartesianProduct — the
      global gate) and every rank window is partitioned by query.
    * pairs_release_manifest: the count rank (prefix_total with a
      lit(1) measure) keeps its range-partitioned checkpoint plane
      (Scan ExistingRDD), offsets return via broadcast, every window
      (the bounded offsets window included) partitioned by split.
    * docs_release_refresh: the id-cut is a scalar broadcast (one
      BNLJ), the stored/delta packings and the per-split audit all
      ride partitioned windows, and stored-side totals reach the delta
      packing via broadcast — never a global single-partition sort.
    """
    import __spark_entry__ as entrymod

    q = entrymod.queries()

    def shape(key):
        df = q[key](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, key
        assert "BatchEvalPython" not in plan, key
        return df, plan

    df, plan = shape("knn_pca_prefix")
    assert "BroadcastExchange" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]
    assert not _unpartitioned_windows(df)

    df, plan = shape("pairs_release_manifest")
    assert "Scan ExistingRDD" in plan, plan[:2000]
    assert "BroadcastExchange" in plan
    assert not _unpartitioned_windows(df)

    # the stored/delta packs are inlined (the audit reads the ranged
    # rail, not the pack aggregates), so the refresh plan shows the
    # ranged-rail checkpoint scan, the id-cut broadcast and the window
    # packs
    df, plan = shape("docs_release_refresh")
    assert "Scan ExistingRDD" in plan, plan[:2000]
    assert "BroadcastExchange" in plan or \
        "BroadcastNestedLoopJoin" in plan, plan[:2000]
    assert not _unpartitioned_windows(df)


def test_training_examples_fused_plan_shape(spark):
    """POSITIVE plan assertion for events_training_examples (r10): the
    fused assembly's whole point is that ONE user_id exchange and ONE
    in-partition sort serve BOTH window stacks (trailing features over
    all events, forward labels over the purchase-filtered relation —
    the filter preserves partitioning and order) and the feature-store
    join disappears entirely. Pinned: exactly 1 hashpartitioning
    exchange on user_id, exactly 2 Window nodes stacked on it, exactly
    1 Sort, no join of any kind."""
    import re

    import __spark_entry__ as entrymod

    df = entrymod.queries()["events_training_examples"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    hashes = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(hashes) == 1 and hashes[0].startswith("user_id"), hashes
    assert len(re.findall(r"(?m)^\s*\+?- Window \[", plan)) == 2, plan[:3000]
    assert plan.count("Sort ") == 1, plan[:3000]
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "BroadcastExchange" not in plan
