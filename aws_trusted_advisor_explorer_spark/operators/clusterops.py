"""Embedding clustering (extension scope per BASELINE.json): KMeans
over the ``embeddings`` table as pure dual-dialect SQL — the trainer
for a learned-centroid IVF index (operators/similarity.py ships the
sign-LSH-bucketed IVF; a KMeans codebook is the classic upgrade), and
a corpus-organization primitive in its own right (topic-ish sharding,
coarse blocking for embedding dedup).

Cross-engine exactness strategy (the hard part — double SUMS are
order-dependent, so a naive avg()/sum() would hash-differ between
Spark and DuckDB):

- distances and centroid sums accumulate in INTEGER space: each double
  term is scaled and rounded to a bigint ONCE (deterministic given
  identical IEEE inputs), then summed exactly — addition order can't
  change an integer sum;
- centroid coordinates come back to double via a single bigint→double
  cast and one division — each a deterministic IEEE op;
- squared-L2 terms ``(v-c)^2`` are per-element products of identical
  doubles, so their bits match before the scale-and-round.

Assignment ties (equidistant centroids) break on centroid id, so the
labeling is fully deterministic.

Iteration count is UNROLLED (KMEANS_ITERS stages of assign→update
CTEs) rather than looped: at 2–3 iterations the SQL stays readable,
the whole plan is one Catalyst job, and the DuckDB oracle is the same
template. A production run that needs convergence loops the assign/
update pair imperatively like operators/dedup.dedup_clusters_df does
for label propagation — same per-round plan, driver-side stopping
rule.

Scale posture (100 TB): ``elems`` is a zero-shuffle projection
(posexplode of each row's own array); each assign stage joins elems to
a K×DIM centroid relation — a few-KB dimension, broadcast — and
aggregates (vec_id, cid) partials map-side; each update stage is one
hash aggregate on (cid, pos), K×DIM output rows. Nothing quadratic,
no window over data (the per-vec argmin row_number partitions on
vec_id). At 1000 executors the only exchange is the (vec_id, cid)
partial-agg combine.
"""

from __future__ import annotations

from aws_trusted_advisor_explorer_spark.functions.dual import Dialect
from aws_trusted_advisor_explorer_spark.session import (
    materialize_plane_df, session_plane,
)

KMEANS_K = 8
KMEANS_DIM = 64        # embeddings.embedding is fixed 64-dim (TESTDATA.md)
KMEANS_ITERS = 2
_ESCALE = 1_000_000_000          # element scale: val * 1e9 -> bigint
_DSCALE = 1_000_000_000_000      # distance-term scale: (v-c)^2 * 1e12


def _assign(elems: str, cents: str, out_prefix: str,
            sub: bool = False) -> tuple[str, str]:
    """(assign, argmin) CTE pair: scaled-integer squared-L2 per
    (vec, centroid), then the deterministic per-vec argmin. With
    ``sub`` the centroid relation carries a subspace column ``s`` and
    the argmin is per (vec_id, s) — the PQ variant; ONE body for both
    so the exactness discipline (scale constant, rounding, cast chain)
    lives in one place."""
    a, m = f"{out_prefix}a", f"{out_prefix}m"
    sc = "c.s, " if sub else ""
    so = "s, " if sub else ""
    assign = f"""{a} AS (
  SELECT e.vec_id, {sc}c.cid,
    cast(sum(cast(round((e.val - c.val) * (e.val - c.val) * {_DSCALE})
                  as bigint)) as bigint) AS dist
  FROM {elems} e JOIN {cents} c ON c.pos = e.pos
  GROUP BY e.vec_id, {sc}c.cid
)"""
    argmin = f"""{m} AS (
  SELECT vec_id, {so}cid, dist FROM (
    SELECT vec_id, {so}cid, dist,
      row_number() OVER (PARTITION BY vec_id{', s' if sub else ''}
                         ORDER BY dist, cid) AS rk
    FROM {a}
  ) r WHERE rk = 1
)"""
    return assign, argmin


def _update(elems: str, members: str, out: str, sub: bool = False) -> str:
    """Centroid update CTE: per-(cid, pos) exact integer mean, one
    bigint→double cast + one division back to coordinate space. With
    ``sub`` the member relation carries the subspace key (PQ)."""
    ms = "m.s, " if sub else ""
    js = " AND m.s = e.s" if sub else ""
    return f"""{out} AS (
  SELECT {ms}m.cid, e.pos,
    cast(cast(sum(cast(round(e.val * {_ESCALE}) as bigint)) as bigint)
         as double) / (cast(count(*) as bigint) * {_ESCALE}) AS val
  FROM {elems} e JOIN {members} m ON m.vec_id = e.vec_id{js}
  GROUP BY {ms}m.cid, e.pos
)"""


def kmeans_assign(d: Dialect, asg: str | None = None) -> str:
    """KMeans cluster assignment after KMEANS_ITERS unrolled Lloyd
    iterations, K = KMEANS_K, init = the K lowest vec_ids (selected by
    ORDER BY + LIMIT — a distributed TakeOrdered, robust to any id
    layout, not a `vec_id < K` fixture assumption; simple and
    deterministic; KMeans|| is the production init, orthogonal to the
    per-iteration plan shape this operator demonstrates). Output one
    row per vector: (vec_id, cluster_id, dist_scaled) where
    dist_scaled is the integer-scaled squared L2 to the final winning
    centroid (scale 1e12).

    ``asg``: name of a materialized assignment view
    (ensure_cluster_views) — the train-once/reuse path; None inlines
    the full training CTE chain (the self-contained oracle form)."""
    if asg is not None:
        return f"SELECT vec_id, cluster_id, dist_scaled FROM {asg}"
    seq = d.seq("1", str(KMEANS_DIM))
    parts = [f"""dims AS (SELECT {d.explode(seq)} AS pos),
elems AS (
  SELECT vec_id, pos, cast({d.elem('embedding', 'pos')} as double) AS val
  FROM embeddings CROSS JOIN dims
),
seeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {KMEANS_K}),
c0 AS (SELECT e.vec_id AS cid, e.pos, e.val
       FROM elems e JOIN seeds sd ON sd.vec_id = e.vec_id)"""]
    cents = "c0"
    members = None
    for i in range(1, KMEANS_ITERS + 1):
        assign, argmin = _assign("elems", cents, f"i{i}")
        parts += [assign, argmin]
        members = f"i{i}m"
        if i < KMEANS_ITERS:
            cents = f"c{i}"
            parts.append(_update("elems", members, cents))
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT vec_id, cid AS cluster_id, dist AS dist_scaled
FROM {members}"""


def kmeans_report(d: Dialect, asg: str | None = None) -> str:
    """Clustering acceptance report over :func:`kmeans_assign`:
    per-cluster population and mean squared-L2 (double mean of exact
    integer sums — deterministic) plus the spread between the nearest
    and farthest member. This is what you check before shipping the
    codebook as an IVF index (empty/lopsided clusters, fat tails)."""
    base = kmeans_assign(d, asg)
    return f"""WITH asg AS (
{base}
)
SELECT cluster_id,
  cast(count(*) as bigint) AS n_vecs,
  cast(sum(dist_scaled) as bigint) / cast(count(*) as bigint)
    AS mean_dist_scaled,
  min(dist_scaled) AS min_dist_scaled,
  max(dist_scaled) AS max_dist_scaled
FROM asg GROUP BY cluster_id"""


COSINE_SEM_THRESHOLD = 0.4   # == dedup.COSINE_DUP_THRESHOLD (same corpus)
# pair-budget of the semdedup grouped kernel's blocked enumeration
# (r13): each block materializes at most ~this many candidate pairs
# (~2M pairs -> ~80 MB of live int64/float64 arrays) regardless of
# cluster size, instead of O(|c|^2) for the whole cluster in one
# allocation — a hot-cluster OOM guard, not a semantics knob (the
# blocked enumeration is bit- and order-identical; see cluster_pairs).
SEM_PAIR_BLOCK_PAIRS = 1 << 21
IVF_TOP_K = 3
IVF_QUERY_MOD = 100          # == similarity.QUERY_MOD


def _member_cte(d: Dialect, asg: str | None = None) -> str:
    """CTE suffix joining the final KMeans assignment back to the raw
    vectors with a precomputed L2 norm: ``mv(vec_id, cluster_id,
    embedding, nrm)``. Reuses :func:`kmeans_assign` verbatim as the
    assignment subquery so every consumer sees the identical
    deterministic labeling."""
    base = kmeans_assign(d, asg)
    norm = f"sqrt({d.dot('embedding', 'embedding')})"
    # nrm > 0: zero-norm vectors are excluded from every cosine
    # consumer (similarity._vec_base rule — Spark ANSI throws on the
    # /0 where DuckDB NULLs and the Arrow kernels NaN)
    return f"""asg AS (
{base}
),
mv AS (
  SELECT * FROM (
    SELECT a.vec_id, a.cluster_id, e.embedding, {norm} AS nrm
    FROM asg a JOIN embeddings e ON e.vec_id = a.vec_id
  ) i0 WHERE nrm > 0
)"""


def semdedup_pairs(d: Dialect, asg: str | None = None) -> str:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    near-duplicate pairs found by clustering first and comparing
    cosines ONLY within a cluster — the published fix for embedding
    dedup's quadratic blow-up. Pairs with cosine >=
    COSINE_SEM_THRESHOLD, deterministic (cluster, vec_a < vec_b) order.

    vs operators/dedup.dedup_embedding_cosine (label-blocked): the
    block key here is LEARNED (the KMeans codebook), so it needs no
    metadata column and the blocks track the actual embedding
    geometry — this is the shape you run when labels don't exist.

    Scale posture (100 TB): the pair join is an equi-join on
    cluster_id, so candidate count is Σ|c|² over clusters, never N².
    In production K grows with N (K ≈ N/5k keeps clusters ~constant
    size), the codebook is trained on a sample, and assignment is one
    broadcast-join pass — exactly the kmeans_assign plan. Hot/lopsided
    clusters (the skew risk) are visible in kmeans_report before the
    pair join runs; AQE skew-split handles the residue."""
    cos = f"{d.dot('a.embedding', 'b.embedding')} / (a.nrm * b.nrm)"
    return f"""WITH {_member_cte(d, asg)},
p AS (
  SELECT a.cluster_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
    {cos} AS cosine
  FROM mv a JOIN mv b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
)
SELECT cluster_id, vec_a, vec_b, cosine
FROM p WHERE cosine >= {COSINE_SEM_THRESHOLD}"""


def semdedup_prune_report(d: Dialect, asg: str | None = None) -> str:
    """SemDeDup pruning outcome per cluster: keep the LOWEST vec_id of
    every above-threshold pair (a vector is dropped iff some
    lower-id cluster-mate sits within the cosine threshold — the
    deterministic one-pass rule; transitive chains collapse to their
    minimum). Output (cluster_id, n_vecs, n_dropped, n_kept) — the
    acceptance report before shipping the pruned corpus."""
    pairs = semdedup_pairs(d, asg)
    return f"""WITH pr AS (
{pairs}
),
drops AS (SELECT DISTINCT vec_b AS vec_id FROM pr),
base AS (
  SELECT a.cluster_id, a.vec_id,
    CASE WHEN dr.vec_id IS NULL THEN 0 ELSE 1 END AS dropped
  FROM ({kmeans_assign(d, asg)}) a
  LEFT JOIN drops dr ON dr.vec_id = a.vec_id
)
SELECT cluster_id,
  cast(count(*) as bigint) AS n_vecs,
  cast(sum(dropped) as bigint) AS n_dropped,
  cast(count(*) - sum(dropped) as bigint) AS n_kept
FROM base GROUP BY cluster_id"""


def knn_ivf_kmeans(d: Dialect, asg: str | None = None) -> str:
    """IVF top-k with a LEARNED coarse quantizer: the KMeans codebook
    (kmeans_assign) replaces similarity.knn_ivf's sign-LSH planes as
    the partitioner — the FAISS IVFFlat shape. Queries (vec_id %
    IVF_QUERY_MOD = 0) probe exactly their own cell; candidates are
    the co-assigned corpus vectors; exact cosine rank within the cell.

    Scale posture (100 TB): identical to similarity.knn_ivf_df's
    partition-pruned layout — write the corpus partitioned BY
    cluster_id and a probe touches 1/K of the data; the codebook
    (K×DIM doubles) broadcasts everywhere. Learned cells track data
    density, so cell populations are far more even than hash buckets
    on clustered data — better tail latency than LSH at equal K."""
    cos = f"{d.dot('q.embedding', 'c.embedding')} / (q.nrm * c.nrm)"
    return f"""WITH {_member_cte(d, asg)},
q AS (SELECT * FROM mv WHERE vec_id % {IVF_QUERY_MOD} = 0),
c AS (SELECT * FROM mv WHERE vec_id % {IVF_QUERY_MOD} <> 0),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cosine
  FROM q JOIN c ON q.cluster_id = c.cluster_id
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, rank, neighbor_id, cosine
FROM ranked WHERE rank <= {IVF_TOP_K}"""


# --- product quantization (PQ) -----------------------------------------
# The FAISS IVFADC layout (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): the 64-dim vector splits into PQ_SUB
# subspaces of PQ_SUBDIM dims; each subspace gets its own PQ_K-codeword
# KMeans codebook; a vector compresses to PQ_SUB small codes
# (64 dims x 4 B = 256 B -> 8 codes = 8 B, 32x). Search is ADC
# (asymmetric distance): the FULL-precision query builds a per-subspace
# lookup table of distances to every codeword, and a corpus vector's
# approximate distance is the sum of PQ_SUB table entries — no corpus
# float math at query time.

PQ_SUB = 8       # subspaces
PQ_SUBDIM = KMEANS_DIM // PQ_SUB
PQ_K = 16        # codewords per subspace
PQ_ITERS = 2     # unrolled Lloyd iterations per subspace (trained jointly)


def _pq_assign(elems: str, cents: str, out_prefix: str) -> tuple[str, str]:
    """The PQ (assign, argmin) pair over ALL subspaces at once: the
    centroid relation carries (s, cid, pos, val) with pos GLOBAL (so
    the pos equi-join lands each element in its own subspace), and the
    argmin is per (vec_id, s). Thin wrapper over the shared
    :func:`_assign` body (sub=True) — one copy of the scaled-integer
    arithmetic."""
    return _assign(elems, cents, out_prefix, sub=True)


def _pq_elems_ctes(d: Dialect) -> str:
    """The subspaced element relation ``elems(vec_id, pos, s, val)``
    (plus its dims generator) — shared by the PQ training chain and
    the assign-only path that reads a materialized codebook."""
    seq = d.seq("1", str(KMEANS_DIM))
    return f"""dims AS (SELECT {d.explode(seq)} AS pos),
elems AS (
  SELECT vec_id, pos, {d.idiv('(pos - 1)', str(PQ_SUBDIM))} AS s,
    cast({d.elem('embedding', 'pos')} as double) AS val
  FROM embeddings CROSS JOIN dims
)"""


def _pq_train_ctes(d: Dialect) -> tuple[str, str, str]:
    """Shared CTE prefix for PQ: (cte_sql, final_members, final_cents).
    elems carries a subspace column s = (pos-1) div PQ_SUBDIM; codebook
    init = subvectors of the PQ_K lowest vec_ids (deterministic, like
    kmeans_assign's seeding)."""
    parts = [f"""{_pq_elems_ctes(d)},
pseeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {PQ_K}),
pc0 AS (SELECT e.s, e.vec_id AS cid, e.pos, e.val
        FROM elems e JOIN pseeds sd ON sd.vec_id = e.vec_id)"""]
    cents = "pc0"
    members = None
    for i in range(1, PQ_ITERS + 1):
        assign, argmin = _pq_assign("elems", cents, f"p{i}")
        parts += [assign, argmin]
        members = f"p{i}m"
        if i < PQ_ITERS:
            cents = f"pc{i}"
            parts.append(_update("elems", members, cents, sub=True))
    return ",\n".join(parts), members, cents


def pq_codes(d: Dialect, members: str | None = None) -> str:
    """PQ encoding of the whole corpus: one row per (vector, subspace)
    with the winning codeword and its scaled-integer quantization
    error. This is the INDEX-BUILD artifact — at scale it is written
    once (8 small ints per vector, 32x smaller than the floats) and
    every ADC search reads it instead of the embeddings.

    Scale posture (100 TB): training reads a sample (here: all rows —
    driver SF is the sample), encoding is one broadcast-join pass of
    elems against the (PQ_SUB x PQ_K x PQ_SUBDIM)-row codebook — a
    few-KB dimension — with map-side partial aggregation on
    (vec_id, s, cid); nothing shuffles the corpus."""
    if members is not None:
        return (f"SELECT vec_id, s AS subspace, cid AS code, "
                f"dist AS qerr_scaled FROM {members}")
    ctes, members, _ = _pq_train_ctes(d)
    return f"""WITH {ctes}
SELECT vec_id, s AS subspace, cid AS code, dist AS qerr_scaled
FROM {members}"""


def knn_ivfpq_adc(d: Dialect, asg: str | None = None,
                  members: str | None = None,
                  cents: str | None = None) -> str:
    """IVF+PQ search (the FAISS IVFADC shape): queries (vec_id %
    IVF_QUERY_MOD = 0) are restricted to their LEARNED coarse cell
    (kmeans_assign), and candidates in the cell are scored by ADC —
    approximate squared L2 = Σ_s lut(query, s, code_s(candidate))
    where lut holds the query subvector's exact scaled-integer squared
    L2 to every codeword. Exact bigint sums end to end, so ranking is
    cross-engine deterministic (distance ASC, neighbor id ASC).

    Scale posture (100 TB): the per-query LUT is |Q| x PQ_SUB x PQ_K
    rows — broadcast-sized; the corpus side touches ONLY the
    partition-pruned cell's code rows (8 ints/vector); the
    (query, candidate) partial sums combine map-side. No corpus float
    is read at query time — that is the point of PQ.

    View mode (``asg``/``members``/``cents`` set — ensure_cluster_views):
    the training CTEs are replaced by reads of the materialized index,
    and only the query vectors are exploded — the search-time plan a
    cluster actually runs."""
    if members is not None:
        seq = d.seq("1", str(KMEANS_DIM))
        prefix = f"""dims AS (SELECT {d.explode(seq)} AS pos),
qsub AS (
  SELECT vec_id, {d.idiv('(pos - 1)', str(PQ_SUBDIM))} AS s, pos,
    cast({d.elem('embedding', 'pos')} as double) AS val
  FROM embeddings CROSS JOIN dims
  WHERE vec_id % {IVF_QUERY_MOD} = 0
),
coarse AS (
{kmeans_assign(d, asg)}
)"""
        return _adc_suffix(d, prefix, members, cents)
    ctes, tr_members, tr_cents = _pq_train_ctes(d)
    # asg passes through: a caller holding a materialized coarse
    # assignment must not retrain the coarse quantizer inside the
    # inline-PQ branch (review finding — output-identical but the
    # whole unrolled KMeans chain re-ran per CTE reference)
    prefix = f"""{ctes},
coarse AS (
{kmeans_assign(d, asg)}
),
qsub AS (
  SELECT e.vec_id, e.s, e.pos, e.val FROM elems e
  WHERE e.vec_id % {IVF_QUERY_MOD} = 0
)"""
    return _adc_suffix(d, prefix, tr_members, tr_cents)


def _adc_suffix(d: Dialect, prefix: str, members: str, cents: str) -> str:
    return f"""WITH {prefix},
lut AS (
  SELECT q.vec_id AS query_id, c.s, c.cid,
    cast(sum(cast(round((q.val - c.val) * (q.val - c.val) * {_DSCALE})
                  as bigint)) as bigint) AS pdist
  FROM qsub q JOIN {cents} c ON c.pos = q.pos
  GROUP BY q.vec_id, c.s, c.cid
),
qcell AS (
  SELECT vec_id AS query_id, cluster_id FROM coarse
  WHERE vec_id % {IVF_QUERY_MOD} = 0
),
cand AS (
  SELECT m.vec_id, m.s, m.cid, ca.cluster_id
  FROM {members} m JOIN coarse ca ON ca.vec_id = m.vec_id
  WHERE m.vec_id % {IVF_QUERY_MOD} <> 0
),
adc AS (
  SELECT qc.query_id, cand.vec_id AS neighbor_id,
    cast(sum(l.pdist) as bigint) AS adc_dist_scaled
  FROM cand
  JOIN qcell qc ON qc.cluster_id = cand.cluster_id
  JOIN lut l ON l.query_id = qc.query_id
            AND l.s = cand.s AND l.cid = cand.cid
  GROUP BY qc.query_id, cand.vec_id
),
ranked AS (
  SELECT query_id, neighbor_id, adc_dist_scaled,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY adc_dist_scaled, neighbor_id) AS rank
  FROM adc
)
SELECT query_id, rank, neighbor_id, adc_dist_scaled
FROM ranked WHERE rank <= {IVF_TOP_K}"""


def pq_recall_report(d: Dialect, asg: str | None = None,
                     members: str | None = None,
                     cents: str | None = None) -> str:
    """PQ index QA: recall@k of the IVFADC ranking against the EXACT
    squared-L2 top-k within the same coarse cell — isolating the
    quantization loss (the cell restriction is held fixed on both
    sides, so a recall drop here is the codebook's fault, not the
    coarse quantizer's). The acceptance gate before swapping full
    vectors for codes in production.

    Scale posture: the exact side reads full vectors — evaluation
    only, run on a query sample; both rankings are top-k relations,
    so the comparison join is query-set-sized."""
    adc = knn_ivfpq_adc(d, asg, members, cents)
    seq = d.seq("1", str(KMEANS_DIM))
    return f"""WITH d2 AS (SELECT {d.explode(seq)} AS pos),
el AS (
  SELECT vec_id, pos, cast({d.elem('embedding', 'pos')} as double) AS val
  FROM embeddings CROSS JOIN d2
),
coarse AS (
{kmeans_assign(d, asg)}
),
exact AS (
  SELECT qe.vec_id AS query_id, ce.vec_id AS neighbor_id,
    cast(sum(cast(round((qe.val - ce.val) * (qe.val - ce.val) * {_DSCALE})
                  as bigint)) as bigint) AS dist
  FROM el qe
  JOIN el ce ON ce.pos = qe.pos
  JOIN coarse ca ON ca.vec_id = ce.vec_id
  JOIN coarse qa ON qa.vec_id = qe.vec_id
  WHERE qa.cluster_id = ca.cluster_id
    AND qe.vec_id % {IVF_QUERY_MOD} = 0
    AND ce.vec_id % {IVF_QUERY_MOD} <> 0
  GROUP BY qe.vec_id, ce.vec_id
),
ex_ranked AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
      row_number() OVER (PARTITION BY query_id
                         ORDER BY dist, neighbor_id) AS rank
    FROM exact
  ) r WHERE rank <= {IVF_TOP_K}
),
adc_res AS (
{adc}
)
SELECT ex.query_id,
  cast(count(a.neighbor_id) as bigint) AS n_hits,
  cast(count(a.neighbor_id) as double) / {IVF_TOP_K} AS recall_at_k
FROM ex_ranked ex LEFT JOIN adc_res a
  ON a.query_id = ex.query_id AND a.neighbor_id = ex.neighbor_id
GROUP BY ex.query_id"""


ASG_VIEW = "__emb_kmeans_asg"
PQ_MEMBERS_VIEW = "__emb_pq_members"
PQ_CENTS_VIEW = "__emb_pq_cents"


def _np_round_half_up(x):
    """numpy twin of Spark's ``round(double)`` (BigDecimal HALF_UP):
    nearest integer, ties away from zero, as int64. Exact for
    |x| < 2^53: ``ax - floor(ax)`` is an exact IEEE subtraction, so the
    tie comparison sees the true binary fraction (the safer form of the
    replay test's ``floor(abs+0.5)``, whose addition can round)."""
    import numpy as np

    ax = np.abs(x)
    fl = np.floor(ax)
    r = fl + (ax - fl >= 0.5)
    return np.where(x < 0, -r, r).astype(np.int64)


def _np_assign(V, cids, C, sub: bool = False):
    """Scaled-integer squared-L2 argmin — the numpy twin of the
    :func:`_assign` CTE pair (same per-term arithmetic as the SQL:
    ``round((v-c)^2 * _DSCALE)`` per element, exact int64 sum, argmin
    with ties to the lowest cid). ``V``: (n, DIM) float64; ``C``:
    (k, DIM) float64 rows in ASCENDING ``cids`` order (ties resolve by
    first-minimum). With ``sub``, the argmin runs per (row, subspace)
    over each PQ_SUBDIM-wide slice and returns (labels, dists) of
    shape (n, PQ_SUB)."""
    import numpy as np

    n = len(V)
    if not sub:
        dist = np.zeros((n, len(cids)), dtype=np.int64)
        for c in range(len(cids)):
            d = V - C[c]
            dist[:, c] = _np_round_half_up((d * d) * float(_DSCALE)).sum(
                axis=1)
        lab = dist.argmin(axis=1)
        return cids[lab], dist[np.arange(n), lab]
    labs = np.empty((n, PQ_SUB), dtype=np.int64)
    dists = np.empty((n, PQ_SUB), dtype=np.int64)
    for s in range(PQ_SUB):
        sl = slice(s * PQ_SUBDIM, (s + 1) * PQ_SUBDIM)
        dist = np.zeros((n, len(cids)), dtype=np.int64)
        for c in range(len(cids)):
            d = V[:, sl] - C[c, sl]
            dist[:, c] = _np_round_half_up((d * d) * float(_DSCALE)).sum(
                axis=1)
        lab = dist.argmin(axis=1)
        labs[:, s] = cids[lab]
        dists[:, s] = dist[np.arange(n), lab]
    return labs, dists


def _np_update(V, labels, cids, sub: bool = False):
    """Exact-integer centroid update — the numpy twin of the
    :func:`_update` CTE: per (cid[, subspace], pos) the int64 sum of
    ``round(v * _ESCALE)`` and the member count; division back to
    coordinate space happens at the single consumer so the partials
    stay mergeable integers. Returns (sums, counts) keyed like the
    codebook; empty cells keep count 0 (the SQL relation simply has no
    row — callers drop them)."""
    import numpy as np

    iv = _np_round_half_up(V * float(_ESCALE))
    k = len(cids)
    if not sub:
        sums = np.zeros((k, KMEANS_DIM), dtype=np.int64)
        counts = np.zeros(k, dtype=np.int64)
        for i, cid in enumerate(cids):
            m = labels == cid
            counts[i] = int(m.sum())
            if counts[i]:
                sums[i] = iv[m].sum(axis=0)
        return sums, counts
    sums = np.zeros((PQ_SUB, k, KMEANS_DIM), dtype=np.int64)
    counts = np.zeros((PQ_SUB, k), dtype=np.int64)
    for s in range(PQ_SUB):
        sl = slice(s * PQ_SUBDIM, (s + 1) * PQ_SUBDIM)
        for i, cid in enumerate(cids):
            m = labels[:, s] == cid
            counts[s, i] = int(m.sum())
            if counts[s, i]:
                sums[s, i, sl] = iv[m][:, sl].sum(axis=0)
    return sums, counts


def _collect_seed_matrix(spark, k: int):
    """The K lowest-vec_id seed vectors as (ids, V) float64 — a
    BOUNDED collect (k <= PQ_K rows, the frozen-model-dimension tier:
    codebooks are what production broadcasts to every assign task)."""
    import numpy as np

    rows = spark.sql(
        f"SELECT vec_id, embedding FROM embeddings "
        f"ORDER BY vec_id LIMIT {k}").collect()
    rows.sort(key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows], dtype=np.int64)
    V = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    return ids, V


@session_plane("cluster_index")
def ensure_cluster_views(spark, key: object = None) -> None:
    """Materialize the trained cluster/PQ index ONCE per (session,
    dataset) as localCheckpoint-backed temp views: the KMeans
    assignment (ASG_VIEW), the PQ code table (PQ_MEMBERS_VIEW), and
    the PQ codebook (PQ_CENTS_VIEW). Consumers pass the view names to
    the builders instead of re-running the unrolled training CTE
    chains per query — on a cluster this is the train-once / persist /
    search-many index lifecycle, and the oracle keeps the inlined
    self-contained form."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK

    # Kernel-twin index build (r12 optimization: let Spark do the
    # distribution and hand batches to numpy): the unrolled
    # SQL training chains re-derived the exploded element relation
    # per CTE reference and paid two windowed argmins per chain —
    # measured 5.2 s warm at sf0.1 for the three materializations.
    # The kernel form is the production KMeans shape: codebooks are
    # BOUNDED relations (<= PQ_K x DIM doubles — a frozen model small
    # enough to collect) that broadcast to every assign task; each
    # corpus pass is one
    # mapInPandas with exact scaled-integer arithmetic replaying
    # the SQL ops bit-for-bit (_np_round_half_up / _np_assign /
    # _np_update); the one-update partial aggregate ships
    # K x DIM-row integer partials, combined by the builtin hash
    # aggregate. Row/type equality with the SQL chains is pinned by
    # test_cluster_kernel_views_match_sql_chains (plus the standing
    # independent-numpy and oracle gates). Measured 5.2 s -> ~0.9 s.
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    seed_ids, seedV = _collect_seed_matrix(spark, max(KMEANS_K, PQ_K))
    bc = spark.sparkContext.broadcast(
        (seed_ids[:KMEANS_K], seedV[:KMEANS_K],
         seed_ids[:PQ_K], seedV[:PQ_K]))

    km_pos = np.arange(1, KMEANS_DIM + 1, dtype=np.int64)

    def upd_partial(batches):
        km_ids, kmC0, pq_ids, pqC0 = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf["embedding"].to_numpy()).astype(
                np.float64)
            lab, _ = _np_assign(V, km_ids, kmC0)
            s1, n1 = _np_update(V, lab, km_ids)
            labs, _ = _np_assign(V, pq_ids, pqC0, sub=True)
            s2, n2 = _np_update(V, labs, pq_ids, sub=True)
            frames = [pd.DataFrame({
                "kind": np.int64(0),
                "s": np.int64(-1),
                "cid": np.repeat(km_ids, KMEANS_DIM),
                "pos": np.tile(km_pos, KMEANS_K),
                "sm": s1.ravel(),
                "n": np.repeat(n1, KMEANS_DIM)})]
            for s in range(PQ_SUB):
                sl = slice(s * PQ_SUBDIM, (s + 1) * PQ_SUBDIM)
                frames.append(pd.DataFrame({
                    "kind": np.int64(1),
                    "s": np.int64(s),
                    "cid": np.repeat(pq_ids, PQ_SUBDIM),
                    "pos": np.tile(km_pos[sl], PQ_K),
                    "sm": s2[s][:, sl].ravel(),
                    "n": np.repeat(n2[s], PQ_SUBDIM)}))
            yield pd.concat(frames, ignore_index=True)

    from aws_trusted_advisor_explorer_spark.session import (
        kernel_partitions,
    )

    # repartition once before the two kernel passes: the
    # single-file embeddings scan is one task, which serialized
    # both corpus passes (r13 — see dedup.ensure_gram_fold_view);
    # the update partials are exact int64 sums merged by the
    # builtin aggregate, so partitioning never changes results
    emb = spark.table("embeddings").select("vec_id", "embedding")
    emb = emb.repartition(kernel_partitions(emb))
    agg = (emb.select("embedding")
           .mapInPandas(upd_partial,
                        schema="kind long, s long, cid long, "
                               "pos long, sm long, n long")
           .groupBy("kind", "s", "cid", "pos")
           .agg(F.sum("sm").alias("sm"), F.sum("n").alias("n"))
           .collect())  # bounded: <= K*DIM + PQ_SUB*PQ_K*PQ_SUBDIM

    def updated(rows):
        # cells with members only (the SQL update emits no row for
        # an empty cell); val = one IEEE division, the SQL's op
        by_cid: dict = {}
        for r in rows:
            if r.n > 0:
                by_cid.setdefault(r.cid, {})[r.pos] = (
                    float(r.sm) / (r.n * _ESCALE))
        cids = np.array(sorted(by_cid), dtype=np.int64)
        return cids, by_cid

    km_cids, km_by = updated([r for r in agg if r.kind == 0])
    kmC1 = np.zeros((len(km_cids), KMEANS_DIM))
    for i, cid in enumerate(km_cids):
        for pos, val in km_by[cid].items():
            kmC1[i, pos - 1] = val
    pq_books = []  # per subspace: (cids, C) with only its slice set
    cent_rows = []
    for s in range(PQ_SUB):
        cids_s, by_s = updated(
            [r for r in agg if r.kind == 1 and r.s == s])
        C_s = np.zeros((len(cids_s), KMEANS_DIM))
        for i, cid in enumerate(cids_s):
            for pos, val in by_s[cid].items():
                C_s[i, pos - 1] = val
                cent_rows.append((s, int(cid), int(pos), val))
        pq_books.append((cids_s, C_s))
    bc2 = spark.sparkContext.broadcast((km_cids, kmC1, pq_books))

    def final_assign(batches):
        km_cids, kmC1, pq_books = bc2.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy()
            V = np.stack(pdf["embedding"].to_numpy()).astype(
                np.float64)
            lab, dist = _np_assign(V, km_cids, kmC1)
            out = [pd.DataFrame({
                "kind": np.int64(0), "vec_id": ids, "s": np.int64(-1),
                "cid": lab, "dist": dist})]
            for s, (cids_s, C_s) in enumerate(pq_books):
                sl = slice(s * PQ_SUBDIM, (s + 1) * PQ_SUBDIM)
                d = np.zeros((len(V), len(cids_s)), dtype=np.int64)
                for c in range(len(cids_s)):
                    dd = V[:, sl] - C_s[c, sl]
                    d[:, c] = _np_round_half_up(
                        (dd * dd) * float(_DSCALE)).sum(axis=1)
                li = d.argmin(axis=1)
                out.append(pd.DataFrame({
                    "kind": np.int64(1), "vec_id": ids,
                    "s": np.int64(s), "cid": cids_s[li],
                    "dist": d[np.arange(len(V)), li]}))
            yield pd.concat(out, ignore_index=True)

    both = emb.mapInPandas(
        final_assign,
        schema="kind long, vec_id long, s long, cid long, dist long"
    ).localCheckpoint(eager=True)

    materialize_plane_df(both.filter("kind = 0").selectExpr(
        "vec_id", "cid AS cluster_id", "dist AS dist_scaled"), ASG_VIEW)
    cents_df = spark.createDataFrame(
        pd.DataFrame(cent_rows, columns=["s", "cid", "pos", "val"]),
        schema="s long, cid long, pos int, val double")  # pos int:
    # the SQL chain's explode(sequence(1, DIM)) yields int — keep
    # the materialized schema byte-identical to the chain's
    materialize_plane_df(cents_df, PQ_CENTS_VIEW)
    materialize_plane_df(both.filter("kind = 1").select(
        "vec_id", "s", "cid", "dist"), PQ_MEMBERS_VIEW)


def semdedup_pairs_df(spark):
    """Arrow-vectorized twin of :func:`semdedup_pairs` over the
    materialized assignment (ASG_VIEW). r12 shape (guide §2.3 "shuffle
    keys and metadata instead of payloads" / §8): the previous twin
    broadcast-joined mv to itself and shipped BOTH 64-dim arrays of
    every candidate pair through the pandas cosine kernel — ~2·DIM
    doubles × Σ|c|² pairs (~256 MB of Arrow traffic at sf0.1's 250 k
    pairs, measured 2.1 s). The grouped kernel ships each vector ONCE
    (one groupBy(cluster_id) exchange of the corpus vectors, ~1 MB)
    and computes all within-cluster pair cosines in-kernel, emitting
    only the above-threshold pairs (tens of rows). The per-dim
    accumulation loops replay the SQL fold's IEEE op order exactly
    (acc += a_i*b_i ascending dims — the pair_cosine discipline), so
    the doubles are still bit-identical — pinned by
    tests/test_extensions.py::test_semdedup_df_twin_bit_matches_sql."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK

    asg = spark.table(ASG_VIEW).select("vec_id", "cluster_id")
    # zero-norm exclusion, same rule as the SQL twin's _member_cte
    # (nrm > 0): without it the kernel yields NaN cosines for
    # zero-vector pairs, and Spark's NaN ordering makes
    # `NaN >= threshold` TRUE — rows the SQL/oracle form excludes
    emb = (spark.table("embeddings").select("vec_id", "embedding")
           .where(F.expr(f"{SPARK.dot('embedding', 'embedding')} > 0")))
    mv = asg.join(emb, "vec_id")

    return (mv.groupBy("cluster_id").applyInPandas(
        _semdedup_cluster_pairs_pdf,
        schema="cluster_id long, vec_a long, vec_b long, cosine double"))


def _semdedup_cluster_pairs_pdf(pdf):
    """The semdedup grouped kernel's per-cluster body (module-level so
    the hot-cluster memory-bound pin can exercise it directly — see
    :func:`semdedup_pairs_df` for the plan shape)."""
    import numpy as np
    import pandas as pd

    cid = pdf["cluster_id"].iloc[0]
    pdf = pdf.sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    n = len(V)
    if n < 2:
        return pd.DataFrame({"cluster_id": np.zeros(0, np.int64),
                             "vec_a": np.zeros(0, np.int64),
                             "vec_b": np.zeros(0, np.int64),
                             "cosine": np.zeros(0, np.float64)})
    na = np.zeros(n)
    for i in range(V.shape[1]):   # per-vector norm fold, asc dims
        na += V[:, i] * V[:, i]
    sq = np.sqrt(na)
    # r13 (guide §2.5/§5, r12 verdict item 3): enumerate the
    # upper-triangle pairs in bounded ROW BLOCKS instead of one
    # O(|c|^2) triu_indices allocation — a skewed mega-cluster
    # previously concentrated all its pair index/accumulator
    # arrays in this one task's memory. Per block the live arrays
    # hold <= ~SEM_PAIR_BLOCK_PAIRS pairs; the per-pair cosine
    # fold (ascending-dim += loop) and the emitted row order
    # (lexicographic (ia, ib) — triu order) are unchanged, so the
    # doubles and the output are bit-identical to the unblocked
    # form (pinned by test_semdedup_blocked_pairs_match_unblocked
    # with a deliberately hot cluster).
    step = max(1, SEM_PAIR_BLOCK_PAIRS // n)
    outs = []
    for r0 in range(0, n - 1, step):
        r1 = min(r0 + step, n - 1)
        rows = np.arange(r0, r1)
        cnt = n - 1 - rows          # pairs per row: (i, i+1..n-1)
        ia = np.repeat(rows, cnt)
        ib = np.concatenate([np.arange(i + 1, n) for i in rows]) \
            if len(rows) else np.zeros(0, dtype=np.int64)
        dot = np.zeros(len(ia))
        for i in range(V.shape[1]):  # asc-dim fold, same op order
            dot += V[ia, i] * V[ib, i]
        cos = dot / (sq[ia] * sq[ib])
        keep = cos >= COSINE_SEM_THRESHOLD
        if keep.any():
            outs.append(pd.DataFrame({
                "cluster_id": np.full(int(keep.sum()), cid,
                                      dtype=np.int64),
                "vec_a": ids[ia[keep]], "vec_b": ids[ib[keep]],
                "cosine": cos[keep]}))
    if not outs:
        return pd.DataFrame({"cluster_id": np.zeros(0, np.int64),
                             "vec_a": np.zeros(0, np.int64),
                             "vec_b": np.zeros(0, np.int64),
                             "cosine": np.zeros(0, np.float64)})
    return pd.concat(outs, ignore_index=True)


SEM_PAIRS_VIEW = "__semdedup_pairs"


@session_plane("semdedup_pairs", deps=("cluster_index",))
def ensure_semdedup_pairs(spark, key: object = None):
    """Materialize the semdedup pair relation once per (session,
    dataset): both the pair query and the prune report consume it, so
    the within-cluster pair join (the expensive stage) runs once —
    same build-once pattern as the cluster/PQ index views. Reads the
    assignment of the cluster index built for the same ``key``."""
    materialize_plane_df(semdedup_pairs_df(spark), SEM_PAIRS_VIEW)
    return spark.table(SEM_PAIRS_VIEW)


def semdedup_prune_report_df(spark, pairs):
    """DF twin of :func:`semdedup_prune_report` over ``pairs``, the
    materialized pair plane (:func:`ensure_semdedup_pairs`); same drop
    rule: a vector is dropped iff it is the HIGHER id of any
    above-threshold pair."""
    from pyspark.sql import functions as F

    drops = (pairs.select(F.col("vec_b").alias("vec_id")).distinct()
             .withColumn("dropped", F.lit(1)))
    asg = spark.table(ASG_VIEW).select("vec_id", "cluster_id")
    base = (asg.join(drops, "vec_id", "left")
            .withColumn("dropped", F.coalesce("dropped", F.lit(0))))
    return (base.groupBy("cluster_id")
            .agg(F.count("*").alias("n_vecs"),
                 F.sum("dropped").cast("bigint").alias("n_dropped"),
                 (F.count("*") - F.sum("dropped")).cast("bigint")
                 .alias("n_kept")))


SQ_SCALE = 1_000_000   # val * 1e6 -> bigint before quantization
SQ_LEVELS = 255        # 256-level (uint8) affine code per element


def embeddings_sq_int8(d: Dialect) -> str:
    """Scalar (per-dimension) 8-bit quantization of the embedding
    corpus — the SQ rung of the quantization family beside PQ
    (pq_codes / knn_ivfpq_adc): per-dimension corpus min/max → affine
    256-level code per element → per-vector reconstruction-error
    report (L1 + max absolute error in the scaled-integer space, plus
    the code sum as a content fingerprint). This is the compression
    pass that turns a float32 ANN corpus into the 4x-smaller uint8
    layout most serving stacks ship.

    Cross-engine exactness: each element is scaled-and-rounded to a
    bigint ONCE (same rule as the KMeans trainer, module docstring);
    quantization, reconstruction, and both error aggregates then stay
    in integer arithmetic end-to-end — no float accumulation order to
    drift between engines.

    Scale posture: ``elems`` is a zero-shuffle posexplode projection;
    ``stats`` is a DIM-row aggregate (map-side combined) whose join
    back is a broadcast; the final per-vector groupBy combines
    map-side to one row per vector before its exchange because a
    vector's exploded elements never leave their input partition."""
    half = SQ_LEVELS // 2
    return f"""WITH dims AS (SELECT {d.explode(d.seq('1', str(KMEANS_DIM)))} AS pos),
elems AS (
  SELECT vec_id, pos,
    cast(round(cast({d.elem('embedding', 'pos')} as double) * {SQ_SCALE})
         as bigint) AS iv
  FROM embeddings CROSS JOIN dims
),
stats AS (
  SELECT pos, min(iv) AS mn, max(iv) AS mx FROM elems GROUP BY pos
),
codes AS (
  SELECT e.vec_id, e.iv, s.mn, s.mx,
    CASE WHEN s.mx = s.mn THEN cast(0 as bigint)
         ELSE {d.idiv('((e.iv - s.mn) * ' + str(SQ_LEVELS) + ')',
                      '(s.mx - s.mn)')} END AS code
  FROM elems e JOIN stats s ON s.pos = e.pos
),
err AS (
  SELECT vec_id, code,
    abs(iv - (mn + {d.idiv('(code * (mx - mn) + ' + str(half) + ')',
                           str(SQ_LEVELS))})) AS aerr
  FROM codes
)
SELECT vec_id,
  cast(count(*) as bigint) AS n_dims,
  cast(sum(aerr) as bigint) AS l1_err_scaled,
  cast(max(aerr) as bigint) AS max_err_scaled,
  cast(sum(code) as bigint) AS code_sum
FROM err GROUP BY vec_id"""


# builders that accept a materialized-assignment view (entry wiring)
UPSERT_BATCH_MOD = 10   # vec_id % 10 == UPSERT_BATCH_REM -> arriving batch
UPSERT_BATCH_REM = 7


def knn_index_upsert(d: Dialect, asg: str | None = None) -> str:
    """IVF index MAINTENANCE (the daily-arrivals operation): assign a
    new vector batch to the EXISTING index without retraining the
    codebook — production IVF indexes absorb arrivals into stale cells
    and only periodically retrain. The stored index state is the cell
    membership; each cell's centroid is recomputed as the exact
    integer mean of its indexed members (same _ESCALE arithmetic as
    the trainer), the batch takes a deterministic argmin over those
    centroids, and the report carries the per-cell growth audit
    (n_before/n_after) that decides when retraining is due.

    Batch = ``vec_id % {UPSERT_BATCH_MOD} = {UPSERT_BATCH_REM}``
    (deterministic synthetic arrivals); index = the rest.

    Scale posture (100 TB): cell centroids are K×DIM rows (broadcast);
    the batch-vs-centroid distance join is batch-sized × K with one
    map-side-combining aggregate; the n_before counts come from the
    materialized assignment relation, not the raw vectors. Nothing
    corpus-scale moves except one pass over the assignment view.
    """
    base = kmeans_assign(d, asg)
    seq = d.seq("1", str(KMEANS_DIM))
    assign, argmin = _assign("batch", "cellc", "u")
    return f"""WITH asg AS (
{base}
),
idx AS (SELECT vec_id, cluster_id FROM asg
        WHERE vec_id % {UPSERT_BATCH_MOD} <> {UPSERT_BATCH_REM}),
dims AS (SELECT {d.explode(seq)} AS pos),
elems AS (
  SELECT vec_id, pos, cast({d.elem('embedding', 'pos')} as double) AS val
  FROM embeddings CROSS JOIN dims
),
cellc AS (
  SELECT i.cluster_id AS cid, e.pos,
    cast(cast(sum(cast(round(e.val * {_ESCALE}) as bigint)) as bigint)
         as double) / (cast(count(*) as bigint) * {_ESCALE}) AS val
  FROM elems e JOIN idx i ON i.vec_id = e.vec_id
  GROUP BY i.cluster_id, e.pos
),
batch AS (SELECT vec_id, pos, val FROM elems
          WHERE vec_id % {UPSERT_BATCH_MOD} = {UPSERT_BATCH_REM}),
{assign},
{argmin},
before AS (SELECT cluster_id, cast(count(*) as bigint) AS n_before
           FROM idx GROUP BY cluster_id),
added AS (SELECT cid, cast(count(*) as bigint) AS n_added
          FROM um GROUP BY cid)
SELECT um.vec_id, um.cid AS cluster_id, um.dist AS dist_scaled,
  b.n_before AS cell_n_before,
  b.n_before + a.n_added AS cell_n_after
FROM um
JOIN before b ON b.cluster_id = um.cid
JOIN added a ON a.cid = um.cid"""


ASG_BACKED = ("kmeans_assign", "kmeans_report", "semdedup_pairs",
              "semdedup_prune_report", "knn_ivf_kmeans",
              "knn_index_upsert")

BUILDERS = {
    "pq_recall_report": pq_recall_report,
    "kmeans_assign": kmeans_assign,
    "kmeans_report": kmeans_report,
    "semdedup_pairs": semdedup_pairs,
    "semdedup_prune_report": semdedup_prune_report,
    "knn_ivf_kmeans": knn_ivf_kmeans,
    "knn_index_upsert": knn_index_upsert,
    "pq_codes": pq_codes,
    "knn_ivfpq_adc": knn_ivfpq_adc,
    "embeddings_sq_int8": embeddings_sq_int8,
}
