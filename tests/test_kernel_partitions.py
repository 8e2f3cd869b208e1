"""The corpus→Arrow-kernel passes: results must not depend on the
kernel partition count. Each kernel key is run with
``session.kernel_partitions`` forced to 1 and to twice the session's
task slots (a task count, not threads), with the planes its kernels
feed rebuilt, and checked against its DuckDB oracle."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from aws_trusted_advisor_explorer_spark import session
from aws_trusted_advisor_explorer_spark.session import drop_planes
from tests.conftest import SF_DIR, assert_matches_oracle

KERNEL_KEYS = (
    "docs_contamination", "kmeans_assign", "docs_dsir_importance",
    "embeddings_covariance", "embeddings_drift_audit",
)
# the kernel-built planes, and the plane the contamination key reads
# from the gram fold
KERNEL_PLANES = ("gram_fold", "contam_hits_plane", "cluster_index",
                 "emb_gram")


@pytest.mark.parametrize("layout", ["one_partition", "twice_the_slots"])
def test_kernel_keys_independent_of_partition_count(spark, ddb, monkeypatch,
                                                    layout):
    from aws_trusted_advisor_explorer_spark.operators import dedup

    slots = spark.sparkContext.defaultParallelism
    n_parts = 1 if layout == "one_partition" else 2 * slots
    q, o = entrymod.queries(), entrymod.oracle_sql()
    monkeypatch.setattr(session, "kernel_partitions", lambda _df: n_parts)
    drop_planes(spark, *KERNEL_PLANES)
    try:
        for key in KERNEL_KEYS:
            assert_matches_oracle(q[key](spark, SF_DIR), ddb, o[key])
        # the forced count reached the fused gram-fold plane
        fold = spark.table(dedup.GRAM_FOLD_VIEW)
        assert fold.rdd.getNumPartitions() == n_parts
    finally:
        # the planes hold the forced layout; later tests rebuild them
        drop_planes(spark, *KERNEL_PLANES)
