"""Similarity search over the ``embeddings`` table (extension scope
per BASELINE.json): brute-force cosine top-k as the exact baseline and
a sign-LSH (random hyperplane) bucketed variant as the scale path.

Dual-dialect SQL (functions/dual.py). Cosine uses the fixed-order
fold, so Spark and the DuckDB oracle produce bit-identical doubles and
therefore identical rankings.

Scale posture (100 TB): the query set is small relative to the corpus
-> in Spark the brute-force plan is a broadcast nested-loop of queries
against a single scan of the corpus (no shuffle of the big side); the
LSH variant turns that into an equi-join on the bucket id, pruning the
corpus to one bucket per query. The hyperplanes are derived from pure
integer arithmetic (functions/dual.hyperplane_weight) so both engines
— and every executor, with no broadcast of plane data — agree on them.
"""

from __future__ import annotations

from aws_trusted_advisor_explorer_spark.functions.dual import (
    Dialect, hyperplane_weight,
)
from aws_trusted_advisor_explorer_spark.session import (
    materialize_plane_df, session_plane,
)

TOP_K = 3
QUERY_MOD = 100  # vec_id % 100 == 0 -> query set (~1% of vectors)
N_PLANES = 8
DIM = 64


def _norm(d: Dialect) -> str:
    return f"sqrt({d.dot('embedding', 'embedding')})"


def _vec_base(d: Dialect, on: tuple[str, ...] = ()) -> str:
    """The filtered vector-relation CTE body ``(vec_id, embedding,
    nrm[, bucket][, label])`` every similarity query starts from;
    ``on`` names the candidate-join columns to attach (the sign-LSH
    bucket, and the label as a bigint — int32 vs int64 must not differ
    cross-engine). Zero-norm embeddings are EXCLUDED here — a zero
    vector has no direction, and the unguarded cosine division
    diverges three ways on one (Spark ANSI throws DIVIDE_BY_ZERO,
    DuckDB returns NULL, the Arrow kernel twins produce NaN which
    sorts FIRST under DESC); embeddings_norm_audit's ``n_zero`` column is the audit that counts
    what this filter drops. The norm is computed once in an inner
    select (filter + projection don't share subexpressions)."""
    cols = {"bucket": _bucket_expr(d, "embedding"),
            "label": "cast(label as bigint)"}
    extra = "".join(f", {cols[c]} AS {c}" for c in on)
    return (f"SELECT * FROM (SELECT vec_id, embedding, {_norm(d)} AS nrm"
            f"{extra} FROM embeddings) i0 WHERE nrm > 0")


def _bucket_expr(d: Dialect, emb: str) -> str:
    """Sign-LSH bucket id: bit j = (dot(v, plane_j) > 0)."""
    bits = []
    for j in range(N_PLANES):
        # dot with the deterministic plane: fold over the dimension index
        idx_dot = d.fold(
            d.transform(
                d.seq("1", str(DIM)),
                "i",
                f"cast({d.elem(emb, 'i')} as double) * {hyperplane_weight(j, 'i')}"),
            "cast(0 as double)", "s", "v", "s + v")
        bits.append(f"(CASE WHEN {idx_dot} > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _knn_sql(d: Dialect, on: tuple[str, ...] = (), probe: bool = False,
             radius: float | None = None) -> str:
    """The ONE SQL rendering of a kNN search: split :func:`_vec_base`'s
    relation into the query set (``vec_id % {QUERY_MOD} = 0``) and the
    corpus, join the candidates on ``on`` (no columns: every query
    against every corpus vector), score the fold cosine (norms
    precomputed per vector), then keep the top-{TOP_K} by row_number
    with the deterministic (cosine DESC, neighbor id ASC) tiebreak —
    or, with ``radius``, every candidate at least that similar, with
    no window at all. ``probe`` fans each query out to its own bucket
    plus every bucket one flipped plane bit away (multi-probe); a
    corpus vector lives in exactly one bucket, so the fan-out adds no
    duplicate candidates. Join columns other than the bucket (the
    label) ride through to the output."""
    keep = [c for c in on if c != "bucket"]
    bucket = "bucket"
    if probe:
        flips = [d.xor("bucket", str(1 << j)) for j in range(N_PLANES)]
        bucket = f"{d.explode(d.arr_lit(['bucket', *flips]))} AS bucket"
    q_cols = ", ".join(["vec_id", "embedding", "nrm",
                        *(bucket if c == "bucket" else c for c in on)])
    join = (f"JOIN c ON {' AND '.join(f'c.{c} = q.{c}' for c in on)}"
            if on else "CROSS JOIN c")
    cos = f"{d.dot('q.embedding', 'c.embedding')} / (q.nrm * c.nrm)"
    head = f"""WITH v AS ({_vec_base(d, on)}),
q AS (SELECT {q_cols} FROM v WHERE vec_id % {QUERY_MOD} = 0),
c AS (SELECT * FROM v WHERE vec_id % {QUERY_MOD} <> 0),
scored AS (
  SELECT {', '.join(['q.vec_id AS query_id', *(f'q.{c}' for c in keep)])},
    c.vec_id AS neighbor_id, {cos} AS cosine
  FROM q {join}
)"""
    if radius is not None:
        return head + f"""
SELECT query_id, neighbor_id, cosine
FROM scored WHERE cosine >= {radius}"""
    # the rank as a CTE, not a FROM subquery: under the subquery form
    # knn_serving_report_df ran 34 jobs at sf0.01, not 32
    ids = ", ".join(["query_id", *keep])
    return head + f""",
ranked AS (
  SELECT {ids}, neighbor_id, cosine,
    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT {ids}, rank, neighbor_id, cosine
FROM ranked WHERE rank <= {TOP_K}"""


def knn_bruteforce(d: Dialect) -> str:
    """Exact top-k: query set x corpus cosine (norms precomputed per
    vector), row_number ranking with a deterministic
    (cosine DESC, neighbor id ASC) tiebreak."""
    return _knn_sql(d)


def knn_lsh(d: Dialect) -> str:
    """ANN top-k: candidates restricted to the query's sign-LSH bucket
    (equi-join on bucket id), then exact cosine rank within the bucket.
    May return fewer than k (or zero) neighbors for sparse buckets —
    the accepted ANN recall trade; identical in both engines."""
    return _knn_sql(d, on=("bucket",))


def knn_multiprobe(d: Dialect) -> str:
    """Multi-probe ANN top-k: each query probes its own sign-LSH bucket
    PLUS every bucket at hamming distance 1 (one flipped plane bit) —
    the standard recall lever for IVF/LSH indexes: neighbors whose
    plane dot hovered near zero land one bit away, and probing those
    buckets recovers them without touching the rest of the corpus
    (probe cost: 1 + n_planes buckets of ~N/2^n_planes vectors each).
    A corpus vector lives in exactly one bucket, so the probe fan-out
    introduces no duplicate candidates."""
    return _knn_sql(d, on=("bucket",), probe=True)


def _knn_df(v, on: tuple[str, ...] = (), probe: bool = False,
            keep: tuple[str, ...] = ()):
    """The ONE DataFrame kNN scorer (the Spark twin of
    :func:`_knn_sql`): split the vector relation ``v`` (vec_id,
    embedding and the ``on`` columns) into queries and corpus, join the
    candidates on ``on`` — no columns: the ~1% query set is broadcast
    against a single scan of the corpus (BroadcastNestedLoopJoin, no
    shuffle of the big side) — score each pair in the batched Pandas
    cosine kernel instead of the interpreted fold, and rank. ``probe``
    explodes each query's bucket into the multi-probe list; ``keep``
    columns (the label) ride to the output. The kernel's doubles
    bit-match the SQL fold's, so the rankings are identical (tested)."""
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.functions import vectorized as V

    bucket = F.col("bucket")
    if probe:
        bucket = F.explode(F.array(bucket, *[
            bucket.bitwiseXOR(1 << j) for j in range(N_PLANES)
        ])).alias("bucket")
    is_q = F.col("vec_id") % QUERY_MOD == 0
    q = v.filter(is_q).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"),
        *[bucket if c == "bucket" else c for c in on])
    c = v.filter(~is_q).select(F.col("vec_id").alias("neighbor_id"),
                               F.col("embedding").alias("c_emb"), *on)
    pairs = q.join(c, list(on)) if on else F.broadcast(q).crossJoin(c)
    return _rank_topk(pairs.select(
        "query_id", *keep, "neighbor_id",
        V.pair_cosine("q_emb", "c_emb").alias("cosine")), keep)


def _rank_topk(scored, keep: tuple[str, ...]):
    """row_number rank (cosine DESC, neighbor_id ASC) + top-k filter —
    shared tail of every knn plan; ranks are deterministic because the
    cosines are bit-identical to the SQL fold's."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", *keep, "rank", "neighbor_id", "cosine"))


def _nonzero_embeddings(spark):
    """The embeddings with :func:`_vec_base`'s zero-norm exclusion: the
    Arrow kernel would NaN on a zero vector where the SQL forms filter
    it out."""
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK

    return spark.table("embeddings").where(
        F.expr(f"{SPARK.dot('embedding', 'embedding')} > 0"))


def knn_bruteforce_df(spark):
    """Arrow-vectorized twin of :func:`knn_bruteforce`: the ~1% query
    set is broadcast against a single scan of the corpus (no shuffle of
    the big side — BroadcastNestedLoopJoin), and the per-pair cosine
    runs in the batched Pandas kernel instead of the interpreted fold.
    Bit-identical doubles -> identical rankings (tested)."""
    return _knn_df(_nonzero_embeddings(spark).select("vec_id", "embedding"))


def knn_lsh_df(spark):
    """Arrow-vectorized twin of :func:`knn_lsh`: sign-LSH bucket and
    cosine via the batched Pandas kernels, candidates restricted to the
    query's bucket by an equi-join."""
    from aws_trusted_advisor_explorer_spark.functions import vectorized as V

    bucket = V.make_lsh_bucket(N_PLANES)
    return _knn_df(_nonzero_embeddings(spark).select(
        "vec_id", "embedding", bucket("embedding").alias("bucket")),
        on=("bucket",))


def ivf_layout(spark, sf_dir: str, on: tuple[str, ...]):
    """Scan of the embeddings written with their ``on`` columns as
    PARTITION columns — IVF in data-lake form: a probe of bucket b
    (and, for filtered search, label l) touches only that leaf
    directory (partition pruning), which is how the ANN path scales
    past what a bucket equi-join over one big file can do. The rows
    are :func:`_vec_base`'s filtered relation WITHOUT the norm column —
    no index consumer reads it (the pair kernel recomputes both norms
    in its fixed IEEE op order). Landed once through
    :func:`session.land_once`, keyed on the source file's stamp and the
    layout's SQL text, so an edit to the bucket formula or the
    zero-norm filter lands a new layout instead of serving the old."""
    import hashlib
    import os
    import tempfile

    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK
    from aws_trusted_advisor_explorer_spark.session import (
        land_once, source_stamp,
    )

    sql = (f"SELECT vec_id, embedding, {', '.join(on)} "
           f"FROM ({_vec_base(SPARK, on)}) b")
    stamp = source_stamp(os.path.join(sf_dir, "embeddings.parquet"))
    key = hashlib.md5(f"{sf_dir}|{stamp}|{sql}".encode()).hexdigest()[:12]
    return land_once(spark, os.path.join(tempfile.gettempdir(),
                                         "spark_ivf_cache", key),
                     f"ivf_{'_'.join(on)}", lambda: spark.sql(sql),
                     partition_by=on)


def knn_ivf_df(spark, sf_dir: str):
    """ANN top-k over the IVF layout. Candidate generation is the
    bucket equi-join against partition-pruned files; results are
    IDENTICAL to knn_lsh (same planes, same buckets), so its DuckDB
    oracle is knn_lsh's oracle."""
    return _knn_df(ivf_layout(spark, sf_dir, ("bucket",)), on=("bucket",))


def knn_ivf_multiprobe_df(spark, sf_dir: str):
    """Multi-probe ANN over the IVF layout: the probe list becomes a
    partition filter (each probed bucket is one partition directory),
    so the scan touches 1 + n_planes of the 2^n_planes partitions.
    Cosines via the vectorized kernel — results bit-match
    :func:`knn_multiprobe`'s fold (its DuckDB rendering is the
    oracle)."""
    return _knn_df(ivf_layout(spark, sf_dir, ("bucket",)), on=("bucket",),
                   probe=True)


def knn_filtered_df(spark, sf_dir: str):
    """Filtered ANN over the two-level (bucket, label) IVF layout: the
    composite equi-join becomes a two-column partition-pruned probe —
    each (query bucket, query label) touches exactly one leaf
    directory of the index. Cosines via the vectorized kernel;
    results are IDENTICAL to :func:`knn_filtered` (same planes, same
    composite candidate restriction), so its DuckDB rendering is the
    oracle."""
    on = ("bucket", "label")
    return _knn_df(ivf_layout(spark, sf_dir, on), on=on, keep=("label",))


def _recall_gate(d: Dialect, ann: str) -> str:
    """recall@{TOP_K} per query of the ``ann`` top-k SQL against the
    exact brute-force top-k: the two rankings joined on (query,
    neighbor), |intersection| / k — the acceptance gate every
    approximate arm ships with."""
    return f"""WITH bf AS (
{knn_bruteforce(d)}
),
ann AS (
{ann}
)
SELECT bf.query_id,
  cast(count(ann.neighbor_id) as bigint) AS n_hits,
  cast(count(ann.neighbor_id) as double) / {TOP_K} AS recall_at_k
FROM bf LEFT JOIN ann
  ON ann.query_id = bf.query_id AND ann.neighbor_id = bf.neighbor_id
GROUP BY bf.query_id"""


def knn_recall_at_k(d: Dialect) -> str:
    """ANN quality evaluation: recall@k of the sign-LSH path against
    the exact brute-force top-k, per query. The standard acceptance
    metric for any approximate index — recall drops are how you detect
    an over-coarse bucket layout before shipping it. Joins the two
    rankings on (query, neighbor); |intersection| / k.

    Scale posture: both inputs are top-k relations (k rows per query),
    so the join and aggregate are query-set-sized — negligible next to
    the searches themselves."""
    return _recall_gate(d, knn_lsh(d))


RANGE_COS_MIN = 0.25  # report every bucket-mate at least this similar


def knn_range_search(d: Dialect) -> str:
    """Radius (range) similarity search: every corpus vector in the
    query's sign-LSH bucket with cosine >= {RANGE_COS_MIN} — the
    'all sufficiently-similar neighbors' variant of top-k (dedup
    candidate generation, coverage analysis), where the result size is
    data-driven instead of k-bounded.

    Scale posture (100 TB): identical rails to ``knn_lsh`` — the
    corpus prunes to one bucket per query via the equi-join, exact
    cosine only within the bucket, and there is no window at all (no
    per-query ranking), so the plan is join -> filter, fully
    streamable. Recall is bucket-bounded like every LSH probe; the
    multi-probe rail applies unchanged if more is needed."""
    return _knn_sql(d, on=("bucket",), radius=RANGE_COS_MIN)


NORM_TOL_NUM, NORM_TOL_DEN = 1, 1000  # unit band = |norm - 1| <= 1/1000


def embeddings_norm_audit(d: Dialect) -> str:
    """Embedding-corpus hygiene audit (the pre-flight check before any
    cosine math ships): vector count, dimension min/max (a ragged
    corpus breaks every dot product), zero-vector count (cosine
    divides by the norm), unit-band count (|norm-1| <= 1/1000 — models
    that L2-normalize should be ~100% here), and min/max norm. One
    map-side-combining aggregate over a projection; min/max on doubles
    are order-insensitive, so no cross-engine accumulation drift (the
    norm itself is the fixed-order fold). Counts are exact bigints."""
    nrm = _norm(d)
    lo = f"(1.0 - cast({NORM_TOL_NUM} as double) / {NORM_TOL_DEN})"
    hi = f"(1.0 + cast({NORM_TOL_NUM} as double) / {NORM_TOL_DEN})"
    return f"""WITH v AS (
  SELECT vec_id, {d.arr_len('embedding')} AS dim, {nrm} AS nrm
  FROM embeddings
)
SELECT
  cast(count(*) as bigint) AS n_vectors,
  cast(min(dim) as bigint) AS min_dim,
  cast(max(dim) as bigint) AS max_dim,
  cast(count(CASE WHEN nrm = 0.0 THEN 1 END) as bigint) AS n_zero,
  cast(count(CASE WHEN nrm >= {lo} AND nrm <= {hi} THEN 1 END)
       as bigint) AS n_unit_band,
  min(nrm) AS min_norm,
  max(nrm) AS max_norm
FROM v"""


MRL_DIMS = (8, 16, 32)      # audited truncation widths (full DIM = 64)
MRL_SCALE = 1_000_000       # retention reported as integer ppm
MRL_BAND_PPM = 950_000      # "usable truncation" band: >= 95% norm mass


def embeddings_matryoshka_audit(d: Dialect) -> str:
    """Matryoshka truncation audit (Kusupati et al. 2022, MRL): for
    each truncation width k in {MRL_DIMS}, how much of every vector's
    squared-norm mass the k-dim PREFIX retains — the acceptance check
    before serving truncated embeddings (the standard
    memory/recall trade at scale: an index over 8 of 64 dims is 8x
    smaller, usable only if prefixes carry the mass, which is exactly
    what MRL training promises and this audit verifies). Per vector:
    retention_ppm = floor(1e6 * ||x[1..k]||² / ||x||²) — the prefix
    and full sums are fixed-order array folds (d.dot) and the
    floor-of-double-division is IEEE-deterministic, so the ppm is an
    exact cross-engine integer; zero-norm vectors have no direction,
    audit as NULL retention and are counted separately (ANSI guard).
    Per k: vector count, zero-norm count, exact integer mean ppm
    (floored), min ppm, and the count below the {MRL_BAND_PPM} band.

    ONE scan: all three prefix sums land in one projection, unpivoted
    by exploding an array of structs (the docs_column_profile pattern
    — a UNION-ALL-per-k form would re-scan per k under both engines'
    CTE inlining); the aggregate is map-side-combining over a
    3-row-per-vector relation grouped by the 3-value k_dims key. No
    join, no window — survives 100 TB as a single pass."""
    ss_cols = []
    entries = []
    for k in MRL_DIMS:
        sl = d.slice("embedding", "1", k)
        ss_cols.append(f"{d.dot(sl, sl)} AS ss{k}")
        entries.append(d.struct_(
            ("k_dims", f"cast({k} as bigint)"),
            ("ret", f"CASE WHEN tss = cast(0 as double) THEN NULL "
                    f"ELSE cast(floor(cast({MRL_SCALE} as double) "
                    f"* ss{k} / tss) as bigint) END")))
    cols = ",\n    ".join(ss_cols)
    return f"""WITH v AS (
  SELECT vec_id, {d.dot('embedding', 'embedding')} AS tss,
    {cols}
  FROM embeddings
),
x AS (SELECT {d.explode(d.arr_lit(entries))} AS s FROM v)
SELECT s.k_dims AS k_dims,
  cast(count(s.ret) as bigint) AS n_vectors,
  cast(count(CASE WHEN s.ret IS NULL THEN 1 END) as bigint)
    AS n_zero_norm,
  cast({d.idiv('sum(s.ret)', 'count(s.ret)')} as bigint)
    AS mean_retention_ppm,
  min(s.ret) AS min_retention_ppm,
  cast(count(CASE WHEN s.ret < {MRL_BAND_PPM} THEN 1 END) as bigint)
    AS n_below_band
FROM x GROUP BY s.k_dims"""


MRL_RECALL_DIM = 16  # the served-truncation width the recall gate rates


def embeddings_matryoshka_recall(d: Dialect) -> str:
    """Truncation acceptance gate (the recall half of the MRL story —
    :func:`embeddings_matryoshka_audit` rates retained norm MASS, this
    rates retained NEIGHBORS): per query, recall@{TOP_K} of the exact
    top-k computed on the {MRL_RECALL_DIM}-dim PREFIX against the exact
    top-k on the full {DIM} dims. This is the number that decides
    whether a {MRL_RECALL_DIM}/{DIM} truncated serving index (4x
    smaller, 4x cheaper dot products) actually ships.

    Deliberately EXACT on both arms (two brute-force rankings — the
    gate family's rule: quality gates measure against exact truth, so
    the cross join is the labeled oracle form, query-set x corpus like
    knn_bruteforce/knn_recall_at_k, never the serving path). One pair
    pass computes both cosines (full + prefix folds); both rank
    windows partition by query. Vectors whose PREFIX norm is zero have
    no direction under truncation — their prefix cosine is NULL and
    they are EXCLUDED from the prefix ranking (a NULL similarity is
    not a rankable neighbor: in a degenerate corpus where a query has
    fewer than {TOP_K} non-zero-prefix candidates, NULLS-LAST ranking
    would count undefined-similarity rows as prefix-top-k "hits"),
    mirroring _vec_base's zero-full-norm exclusion one level down.

    Expectation setting: on the synthetic test corpus (random
    directions, NOT Matryoshka-trained) prefix recall is genuinely low
    — that IS the gate working; MRL training exists precisely to make
    prefixes rank like the full vector, and this gate is how you
    verify a model delivers it before shrinking the index."""
    sl = lambda col: d.slice(col, "1", MRL_RECALL_DIM)
    pn = f"sqrt({d.dot(sl('embedding'), sl('embedding'))})"
    cos = f"{d.dot('q.embedding', 'c.embedding')} / (q.nrm * c.nrm)"
    pcos = (f"CASE WHEN q.pnrm * c.pnrm = cast(0 as double) THEN NULL "
            f"ELSE {d.dot(sl('q.embedding'), sl('c.embedding'))}"
            f" / (q.pnrm * c.pnrm) END")
    return f"""WITH b AS ({_vec_base(d)}),
v AS (SELECT vec_id, embedding, nrm, {pn} AS pnrm FROM b),
q AS (SELECT * FROM v WHERE vec_id % {QUERY_MOD} = 0),
c AS (SELECT * FROM v WHERE vec_id % {QUERY_MOD} <> 0),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    {cos} AS cosine, {pcos} AS pcosine
  FROM q CROSS JOIN c
),
rf AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
),
rp AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY pcosine DESC, neighbor_id) AS rank
  FROM scored WHERE pcosine IS NOT NULL
)
SELECT rf.query_id,
  cast({MRL_RECALL_DIM} as bigint) AS k_dims,
  cast(count(rp.neighbor_id) as bigint) AS n_hits,
  cast(count(rp.neighbor_id) as double) / {TOP_K} AS recall_at_k
FROM rf LEFT JOIN rp
  ON rp.query_id = rf.query_id AND rp.neighbor_id = rf.neighbor_id
  AND rp.rank <= {TOP_K}
WHERE rf.rank <= {TOP_K}
GROUP BY rf.query_id"""


HAMMING_POOL = 10   # sign-signature preselect depth before exact rerank


def _sig_expr(d: Dialect, lo: int) -> str:
    """Pack sign bits of dims [lo, lo+31] into one bigint (bit k set
    when embedding[lo+k] >= 0). Two 32-bit halves instead of one
    64-bit word: bit 63 of a signed bigint flips the sign, and the
    engines disagree on shift-overflow behavior there."""
    bit = (f"CASE WHEN cast({d.elem('embedding', 'i')} as double) >= 0 "
           f"THEN {d.shl('cast(1 as bigint)', f'i - {lo}')} "
           f"ELSE cast(0 as bigint) END")
    bits = d.transform(d.seq(str(lo), str(lo + 31)), "i", bit)
    return d.fold(bits, "cast(0 as bigint)", "s", "v", "s + v")


def knn_hamming_rerank(d: Dialect) -> str:
    """Two-stage ANN via binary sign quantization (Charikar 2002 /
    the 'binary embeddings' serving trick): stage 1 ranks the corpus
    by Hamming distance between 64-bit sign signatures (XOR +
    popcount — 16 bytes and ~4 integer ops per pair instead of a
    64-float dot product), stage 2 re-ranks only the top
    {HAMMING_POOL} candidates per query with the exact cosine. The
    coarsest, cheapest rung of the quantization ladder (sq_int8 ->
    PQ/ADC -> Matryoshka prefix -> sign bits); ties on hamming break
    on neighbor_id, so the pool and therefore the rerank are
    deterministic in both engines.

    Scale posture (100 TB): the preselect cross join moves ONLY the
    16-byte signatures (the 512-byte vectors stay in the scan — the
    rerank fetches them by vec_id equi-join for pool-sized relations,
    broadcast-able), so signature preselect costs 1/32 the bytes of a
    brute-force pass; in serving form the signature relation is the
    in-memory index. Full vectors are touched for query_count x
    {HAMMING_POOL} rows only."""
    ham = (f"cast(bit_count({d.xor('q.sig_lo', 'c.sig_lo')}) + "
           f"bit_count({d.xor('q.sig_hi', 'c.sig_hi')}) as bigint)")
    cos = f"{d.dot('qv.embedding', 'cv.embedding')} / (qv.nrm * cv.nrm)"
    return f"""WITH v AS ({_vec_base(d)}),
s AS (SELECT vec_id, {_sig_expr(d, 1)} AS sig_lo,
             {_sig_expr(d, 33)} AS sig_hi FROM v),
q AS (SELECT vec_id, sig_lo, sig_hi FROM s WHERE vec_id % {QUERY_MOD} = 0),
c AS (SELECT vec_id, sig_lo, sig_hi FROM s WHERE vec_id % {QUERY_MOD} <> 0),
pool AS (
  SELECT query_id, neighbor_id, hamming FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {ham} AS hamming,
      row_number() OVER (PARTITION BY q.vec_id
                         ORDER BY {ham}, c.vec_id) AS hrank
    FROM q CROSS JOIN c
  ) h WHERE hrank <= {HAMMING_POOL}
),
rer AS (
  SELECT pool.query_id, pool.neighbor_id, pool.hamming, {cos} AS cosine
  FROM pool
  JOIN v qv ON qv.vec_id = pool.query_id
  JOIN v cv ON cv.vec_id = pool.neighbor_id
)
SELECT query_id, rank, neighbor_id, hamming, cosine FROM (
  SELECT query_id, neighbor_id, hamming, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rank
  FROM rer
) r WHERE rank <= {TOP_K}"""


def knn_filtered(d: Dialect) -> str:
    """FILTERED vector search (the vector-DB staple: ANN constrained
    by a metadata predicate — here 'same label as the query', the
    label-constrained retrieval case): candidates must match the
    query's sign-LSH bucket AND its label, so the equi-join key is
    the composite (bucket, label) and the filter prunes candidates
    BEFORE any cosine is computed — never post-filtering an
    unconstrained top-k, which silently returns < k (or zero) rows
    exactly when the predicate is selective.

    Scale posture (100 TB): the composite key multiplies the
    partition count (2^planes x |labels|), shrinking each candidate
    block ~|labels|-fold vs knn_lsh; the IMPLEMENTED serving form is
    :func:`knn_filtered_df` over the two-level (bucket, label)
    physical layout of :func:`ivf_layout`, where the
    probe partition-prunes on both columns. Same recall caveats as any
    single-probe LSH — the multi-probe rail composes unchanged."""
    return _knn_sql(d, on=("bucket", "label"))


def knn_hamming_recall(d: Dialect) -> str:
    """Acceptance gate for the sign-bit rung (the knn_recall_at_k
    family rule: every approximate index ships with its recall
    measured against exact truth): per query, recall@{TOP_K} of
    :func:`knn_hamming_rerank` against the exact brute-force top-k.
    Quantifies what 1 bit per dimension costs on THIS corpus — the
    number that decides whether the 32x-smaller signature index is
    the right serving rung or the pool must widen.

    Scale posture: both inputs are top-k relations (k rows per
    query), so the gate join and aggregate are query-set-sized —
    negligible next to the searches themselves."""
    return _recall_gate(d, knn_hamming_rerank(d))


VEC_BYTES = DIM * 8              # full-vector payload per candidate
SIG_BYTES = 16                   # two 8-byte sign-signature words


def _mrl_prefix_topk(d: Dialect) -> str:
    """Exact top-k on the {MRL_RECALL_DIM}-dim PREFIX cosine — the
    Matryoshka serving arm as a standalone ranking (the rp arm of
    :func:`embeddings_matryoshka_recall`, needed separately by the
    serving report). Zero-prefix-norm candidates are excluded from the
    ranking (the recall gate's NULL-similarity rule)."""
    sl = lambda col: d.slice(col, "1", MRL_RECALL_DIM)
    pn = f"sqrt({d.dot(sl('embedding'), sl('embedding'))})"
    pcos = (f"CASE WHEN q.pnrm * c.pnrm = cast(0 as double) THEN NULL "
            f"ELSE {d.dot(sl('q.embedding'), sl('c.embedding'))}"
            f" / (q.pnrm * c.pnrm) END")
    return f"""WITH b AS ({_vec_base(d)}),
v AS (SELECT vec_id, embedding, {pn} AS pnrm FROM b),
q AS (SELECT * FROM v WHERE vec_id % {QUERY_MOD} = 0),
c AS (SELECT * FROM v WHERE vec_id % {QUERY_MOD} <> 0),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    {pcos} AS pcosine
  FROM q CROSS JOIN c
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY pcosine DESC, neighbor_id) AS rank
  FROM scored WHERE pcosine IS NOT NULL
) r WHERE rank <= {TOP_K}"""


def _serving_counts_sql(d: Dialect) -> str:
    """The serving report's candidate-count relation — ONE row
    (nq, nc, lsh_cand, mp_cand), computed from bucket HISTOGRAMS
    rather than the pair relations themselves: the number of
    bucket-join candidates is Σ_b nq_b·nc_b and the multi-probe count
    is the same sum over the probe fan-out, so the counts cost two
    corpus scans and a ≤(2^{N_PLANES}·(1+{N_PLANES}))-row join —
    never a re-run of any rung's candidate generation. The probe
    relation carries its own-bucket flag so one join aggregate yields
    both counts (single reference per CTE — no re-evaluation under
    Spark inlining)."""
    entries = [d.struct_(("probe", "bucket"),
                         ("is_own", "cast(1 as bigint)"))]
    entries += [d.struct_(("probe", d.xor("bucket", str(1 << j))),
                          ("is_own", "cast(0 as bigint)"))
                for j in range(N_PLANES)]
    return f"""WITH b AS ({_vec_base(d, ("bucket",))}),
q AS (SELECT vec_id, bucket FROM b WHERE vec_id % {QUERY_MOD} = 0),
c AS (SELECT vec_id, bucket FROM b WHERE vec_id % {QUERY_MOD} <> 0),
pr AS (SELECT {d.explode(d.arr_lit(entries))} AS s FROM q),
ph AS (SELECT s.probe AS probe, s.is_own AS is_own,
         cast(count(*) as bigint) AS n
       FROM pr GROUP BY s.probe, s.is_own),
ch AS (SELECT bucket, cast(count(*) as bigint) AS n
       FROM c GROUP BY bucket)
SELECT q1.nq, q2.nc, pa.lsh_cand, pa.mp_cand
FROM (SELECT cast(count(*) as bigint) AS nq FROM q) q1
CROSS JOIN (SELECT cast(count(*) as bigint) AS nc FROM c) q2
CROSS JOIN (
  SELECT
    cast(coalesce(sum(CASE WHEN ph.is_own = 1 THEN ph.n * ch.n END), 0)
      as bigint) AS lsh_cand,
    cast(coalesce(sum(ph.n * ch.n), 0) as bigint) AS mp_cand
  FROM ph JOIN ch ON ch.bucket = ph.probe
) pa"""


def knn_serving_report(d: Dialect) -> str:
    """The ANN plane's CAPSTONE decision table (VERDICT r9 task 7 —
    the measured per-corpus analog of the dedup plane's rung-selection
    table, SCALE.md): run the SAME query set through every inline
    serving rung — sign-bit Hamming rerank, single-probe sign-LSH
    (the IVF layout's logical plan: knn_ivf returns identical results
    by construction), multi-probe LSH, the {MRL_RECALL_DIM}-dim
    Matryoshka prefix — and emit per rung the recall@{TOP_K} against
    exact truth, the candidate rows actually scored with full vectors,
    and a bytes-touched model (signatures {SIG_BYTES} B, prefixes
    {MRL_RECALL_DIM}x8 B, full vectors {DIM}x8 B). The exact row
    anchors the table (recall 1.0, the full corpus as candidates).
    The PQ/ADC rung is deliberately absent: it requires the trained
    codebook views (clusterops.ensure_cluster_views) and already ships
    its own gate (pq_recall_report); this report covers the
    training-free inline rungs.

    Candidate counts come from bucket histograms
    (:func:`_serving_counts_sql`), never from re-counting pair
    relations. Integer-exact: hit counts are bigints, recall_ppm is
    one integer division; recall_at_k is the single IEEE division.

    Scale posture (100 TB): this is a REPORT — each rung runs once
    (exactly its own serving cost; the cross-join arms are the
    allowlisted query-probe-broadcast shapes), the truth arm is the
    same labeled-oracle brute force every recall gate uses, and all
    joins downstream of the rungs are top-k-relation-sized. The
    REGISTERED Spark form is :func:`knn_serving_report_df`, which
    materializes the truth top-k once (lazy localCheckpoint — the
    docs_kmv_source_overlap rule: this SQL form's five bf references
    re-evaluate per reference under Spark CTE inlining and are
    MATERIALIZED-hinted for DuckDB, where this form is the oracle)."""
    pool = f"least(cast({HAMMING_POOL} as bigint), cnt.nc)"
    rows = f"""  SELECT 'sign_hamming' AS rung, cast(1 as bigint) AS rung_order,
    cnt.nq AS n_queries,
    cnt.nq * {pool} AS cand_rows,
    cnt.nq * cnt.nc * {SIG_BYTES} + cnt.nq * {pool} * {VEC_BYTES}
      AS bytes_touched,
    h_sg.n AS n_hits
  FROM cnt CROSS JOIN h_sg
  UNION ALL
  SELECT 'lsh', cast(2 as bigint), cnt.nq, cnt.lsh_cand,
    cnt.lsh_cand * {VEC_BYTES}, h_ls.n
  FROM cnt CROSS JOIN h_ls
  UNION ALL
  SELECT 'lsh_multiprobe', cast(3 as bigint), cnt.nq, cnt.mp_cand,
    cnt.mp_cand * {VEC_BYTES}, h_mp.n
  FROM cnt CROSS JOIN h_mp
  UNION ALL
  SELECT 'matryoshka_prefix{MRL_RECALL_DIM}', cast(4 as bigint), cnt.nq,
    cnt.nq * cnt.nc, cnt.nq * cnt.nc * {MRL_RECALL_DIM * 8}, h_mr.n
  FROM cnt CROSS JOIN h_mr
  UNION ALL
  SELECT 'exact', cast(5 as bigint), cnt.nq, cnt.nq * cnt.nc,
    cnt.nq * cnt.nc * {VEC_BYTES}, h_bf.n
  FROM cnt CROSS JOIN h_bf"""
    hits = ",\n".join(
        f"h_{r} AS (SELECT cast(count(*) as bigint) AS n FROM {r}\n"
        f"         JOIN bf ON bf.query_id = {r}.query_id\n"
        f"                AND bf.neighbor_id = {r}.neighbor_id)"
        for r in ("sg", "ls", "mp", "mr"))
    return f"""WITH bf {d.cte_as()} (
{knn_bruteforce(d)}
),
sg AS (
{knn_hamming_rerank(d)}
),
ls AS (
{knn_lsh(d)}
),
mp AS (
{knn_multiprobe(d)}
),
mr AS (
{_mrl_prefix_topk(d)}
),
cnt AS (
{_serving_counts_sql(d)}
),
{hits},
h_bf AS (SELECT cast(count(*) as bigint) AS n FROM bf)
SELECT rung, rung_order, n_queries, cand_rows, bytes_touched, n_hits,
  cast({d.idiv('(1000000 * n_hits)',
               f'greatest(n_queries * {TOP_K}, 1)')} as bigint)
    AS recall_ppm,
  cast(n_hits as double)
    / cast(greatest(n_queries * {TOP_K}, 1) as double) AS recall_at_k
FROM (
{rows}
) r
ORDER BY rung_order"""


def knn_serving_report_df(spark):
    """Registered Spark form of :func:`knn_serving_report`: the truth
    top-k materializes ONCE (lazy localCheckpoint inside the query —
    the docs_kmv_source_overlap pattern; the SQL form's five bf
    references would re-run the brute-force cross join per reference
    under Spark CTE inlining), each rung's candidate generation runs
    exactly once, per-rung hit counts are global aggregates (one row
    even for a rung that returned nothing), and the candidate/bytes
    columns compute in-plan from the one-row histogram-count relation
    — no driver collect anywhere."""
    from functools import reduce

    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK

    # note (r12 audit): swapping the exact/lsh rungs to the Arrow
    # twins was measured SLOWER here (1.05 vs 0.75 s / 0.83 vs 0.70 s
    # warm at sf0.1) — at the gate's query-probe scale the Python
    # worker round-trip outweighs the interpreted fold, so the SQL
    # forms stay; the standalone registered queries keep their twins
    bf = (spark.sql(knn_bruteforce(SPARK))
          .select("query_id", "neighbor_id")
          .localCheckpoint(eager=False))
    bf_hit = bf.withColumn("hit", F.lit(1))
    rungs = [
        ("sign_hamming", 1, spark.sql(knn_hamming_rerank(SPARK))),
        ("lsh", 2, spark.sql(knn_lsh(SPARK))),
        ("lsh_multiprobe", 3, spark.sql(knn_multiprobe(SPARK))),
        (f"matryoshka_prefix{MRL_RECALL_DIM}", 4,
         spark.sql(_mrl_prefix_topk(SPARK))),
        ("exact", 5, bf),
    ]
    hits = reduce(
        lambda a, b: a.unionByName(b),
        [df.select("query_id", "neighbor_id")
         .join(bf_hit, ["query_id", "neighbor_id"], "left")
         .agg(F.count("hit").alias("n_hits"))
         .withColumn("rung", F.lit(name))
         .withColumn("rung_order", F.lit(order).cast("long"))
         for name, order, df in rungs])
    cnt = spark.sql(_serving_counts_sql(SPARK))
    pool = f"least(cast({HAMMING_POOL} as bigint), nc)"
    return (
        hits.crossJoin(cnt)
        .withColumn("cand_rows", F.expr(
            f"CASE rung WHEN 'sign_hamming' THEN nq * {pool} "
            f"WHEN 'lsh' THEN lsh_cand "
            f"WHEN 'lsh_multiprobe' THEN mp_cand "
            f"ELSE nq * nc END"))
        .withColumn("bytes_touched", F.expr(
            f"CASE rung WHEN 'sign_hamming' "
            f"THEN nq * nc * {SIG_BYTES} + nq * {pool} * {VEC_BYTES} "
            f"WHEN 'lsh' THEN lsh_cand * {VEC_BYTES} "
            f"WHEN 'lsh_multiprobe' THEN mp_cand * {VEC_BYTES} "
            f"WHEN 'matryoshka_prefix{MRL_RECALL_DIM}' "
            f"THEN nq * nc * {MRL_RECALL_DIM * 8} "
            f"ELSE nq * nc * {VEC_BYTES} END"))
        .withColumn("recall_ppm", F.expr(
            f"cast((1000000 * n_hits) div greatest(nq * {TOP_K}, 1) "
            f"as bigint)"))
        .withColumn("recall_at_k",
                    F.col("n_hits").cast("double")
                    / F.expr(f"greatest(nq * {TOP_K}, 1)").cast("double"))
        .select("rung", "rung_order", F.col("nq").alias("n_queries"),
                "cand_rows", "bytes_touched", "n_hits", "recall_ppm",
                "recall_at_k"))


COV_SCALE = 1_000_000  # covariance terms quantized to integer micros


def embeddings_covariance(d: Dialect) -> str:
    """Upper-triangle Gram/second-moment matrix of the embedding
    corpus — the input to whitening, PCA and embedding-drift checks:
    for every dim pair i <= j, sum over vectors of
    floor((x_i * x_j) * {COV_SCALE}) as an exact bigint (per-row
    floor THEN integer sum — a raw double sum over corpus rows is
    partition-order-dependent, the one thing a cross-engine or
    cross-run-deterministic aggregate cannot be), plus the vector
    count and the mean term (one bigint/bigint division — correctly
    rounded IEEE, so identical doubles). Output is dim^2/2 rows
    (2080 at dim {DIM}) regardless of corpus size.

    Scale posture (100 TB): the explode inflates rows {DIM}^2/2-fold
    but entirely INSIDE each task — Catalyst's partial hash aggregate
    collapses every partition to 2080 (dim_i, dim_j) groups before
    the one tiny shuffle, so network cost is O(partitions x dim^2)
    integers, never O(rows). The registered Spark form is the
    Arrow/numpy twin (:func:`embeddings_covariance_df`) computing the
    same integers with vectorized outer products; this SQL form is
    its cross-engine oracle and plans the same aggregate shape."""
    return f"""WITH x AS (
  {_gram_pairs_select(d)}
)
SELECT p.i AS dim_i, p.j AS dim_j,
  cast(count(*) as bigint) AS n_vectors,
  cast(sum(p.t) as bigint) AS sum_micro,
  cast(sum(p.t) as double) / cast(count(*) as double) AS mean_micro
FROM x GROUP BY p.i, p.j"""


def _gram_pairs_select(d: Dialect, extra_col: str = "") -> str:
    """The exploded upper-triangle Gram-term relation ``p(i, j, t)``
    with per-row integer quantization — the ONE definition shared by
    the covariance matrix and the drift audit (``extra_col`` rides
    along for split/grouping keys). Well-formed vectors only
    (NULL/ragged rows would otherwise be COUNTED with NULL terms in
    SQL while crashing the numpy twin — the forms must agree on
    malformed input; the hygiene count for such rows is
    embeddings_norm_audit's job)."""
    ei = f"cast({d.elem('embedding', 'i')} as double)"
    ej = f"cast({d.elem('embedding', 'j')} as double)"
    term = (f"cast(floor(({ei} * {ej}) * cast({COV_SCALE} as double)) "
            f"as bigint)")
    inner = d.transform(d.seq("i", str(DIM)), "j", d.struct_(
        ("i", "cast(i as bigint)"), ("j", "cast(j as bigint)"),
        ("t", term)))
    nested = d.transform(d.seq("1", str(DIM)), "i", inner)
    sel = f", {extra_col}" if extra_col else ""
    return (f"SELECT {d.explode(f'flatten({nested})')} AS p{sel}\n"
            f"  FROM embeddings WHERE {d.arr_len('embedding')} = {DIM}")


DRIFT_TOP_K = 20  # drifted dim pairs reported


def embeddings_drift_audit(d: Dialect) -> str:
    """Embedding-distribution DRIFT detection (the production-ML
    monitoring check the Gram matrix exists to feed): split the
    corpus into two deterministic halves (vec_id parity — in
    production the two sides are yesterday's snapshot vs today's
    batch) and compare the per-dim-pair second-moment means; the top
    {DRIFT_TOP_K} most-drifted pairs ship with both sides' exact
    integer sums so the verdict is auditable. A drifting embedding
    model (retrain, quantization change, corrupted encoder) moves
    these moments long before downstream recall gates catch it.

    Determinism: both sides' sums are per-row-floored exact bigints
    (the covariance rule); each mean is ONE bigint/bigint division
    and the drift their single subtraction — IEEE-exact cross-engine.
    Ranking ties break on (dim_i, dim_j).

    Scale posture (100 TB): same shape as embeddings_covariance —
    the explode is task-local, the partial aggregate collapses every
    partition to dim^2/2 groups x 2 conditional sums, ONE tiny
    exchange; the rank window runs on the 2080-row aggregate, never
    corpus rows."""
    return f"""WITH x AS (
  {_gram_pairs_select(d, "vec_id % 2 AS side")}
),
g AS (
  SELECT p.i AS dim_i, p.j AS dim_j,
    cast(count(CASE WHEN side = 0 THEN 1 END) as bigint) AS n_a,
    cast(count(CASE WHEN side = 1 THEN 1 END) as bigint) AS n_b,
    cast(coalesce(sum(CASE WHEN side = 0 THEN p.t END), 0) as bigint)
      AS sum_a_micro,
    cast(coalesce(sum(CASE WHEN side = 1 THEN p.t END), 0) as bigint)
      AS sum_b_micro
  FROM x GROUP BY p.i, p.j
),
m AS (
  SELECT dim_i, dim_j, n_a, n_b, sum_a_micro, sum_b_micro,
    abs(cast(sum_a_micro as double) / cast(n_a as double)
        - cast(sum_b_micro as double) / cast(n_b as double))
      AS drift_micro
  FROM g WHERE n_a > 0 AND n_b > 0
)
SELECT dim_i, dim_j, n_a, n_b, sum_a_micro, sum_b_micro, drift_micro
FROM (
  SELECT *, row_number() OVER (ORDER BY drift_micro DESC, dim_i, dim_j)
    AS rk
  FROM m
) r WHERE rk <= {DRIFT_TOP_K}"""


def _gram_acc(vs):
    """Per-batch Gram accumulation shared by the covariance and drift
    Arrow twins: float64 outer products, per-row floor BEFORE the sum
    (the determinism rule — a raw double sum is partition-order-
    dependent), int64-exact. The einsum is chunked so the
    n_chunk x dim^2 float64 intermediate stays ~32 MB instead of
    scaling with the Arrow batch."""
    import numpy as np

    acc = np.zeros((DIM, DIM), dtype=np.int64)
    for lo in range(0, len(vs), 1024):
        m = np.stack(vs[lo:lo + 1024])
        acc += np.floor(
            np.einsum("ni,nj->nij", m, m) * float(COV_SCALE)
        ).sum(axis=0, dtype=np.int64)
    return acc


EMB_GRAM_VIEW = "__emb_gram"


@session_plane("emb_gram")
def ensure_emb_gram_view(spark, key: object = None) -> str:
    """Materialize the aggregated embedding Gram relation —
    :func:`embeddings_covariance_df`'s output, ≤ dim(dim+1)/2 rows —
    once per (session, dataset) (r13, guide §2.4): the covariance
    report, the power-iteration twin, and the PCA direction plane each
    re-ran the corpus-scale partial kernel + aggregate (~0.4 s each at
    sf0.1; one corpus scan each at 100 TB). Train-once/serve-many like
    the PCA plane itself."""
    materialize_plane_df(embeddings_covariance_df(spark), EMB_GRAM_VIEW)
    return EMB_GRAM_VIEW


def embeddings_covariance_df(spark, base: str | None = None):
    """Arrow/numpy twin of :func:`embeddings_covariance`: each input
    batch contributes one 2080-row partial frame of (dim_i, dim_j,
    n, s) computed with float64 outer products + per-term floor —
    bit-identical integers to the SQL fold — and the builtin hash
    aggregate merges partials. The mapInPandas stage emits
    O(batches x dim^2) rows, so the shuffle is constant-width like
    the SQL form's partial aggregate, with ~dim-fold less per-row
    lambda interpretation. With ``base`` (the session Gram plane,
    :func:`ensure_emb_gram_view`) the report is a plane scan."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    if base is not None:
        return spark.table(base)

    iu = np.triu_indices(DIM)
    out_schema = ("dim_i long, dim_j long, n long, s long")

    def partial(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # the SQL form's well-formedness filter, mirrored: NULL or
            # ragged vectors are excluded (np.stack would crash on
            # them where the SQL WHERE drops them)
            vs = [np.asarray(v, dtype=np.float64)
                  for v in pdf["embedding"]
                  if v is not None and len(v) == DIM]
            if not vs:
                continue
            acc = _gram_acc(vs)
            yield pd.DataFrame({
                "dim_i": iu[0] + 1, "dim_j": iu[1] + 1,
                "n": np.int64(len(vs)), "s": acc[iu]})

    from aws_trusted_advisor_explorer_spark.session import kernel_partitions

    # repartition before the kernel: the single-file embeddings scan
    # is one task, which serialized the partial-Gram kernel (r13 —
    # see dedup.ensure_gram_fold_view). Per-row floor then int64 sums
    # keep the merged Gram exact under any partitioning.
    v = spark.table("embeddings").select("embedding")
    v = v.repartition(kernel_partitions(v))
    part = v.mapInPandas(partial, schema=out_schema)
    return (part.groupBy("dim_i", "dim_j")
            .agg(F.sum("n").alias("n_vectors"),
                 F.sum("s").alias("sum_micro"))
            .select("dim_i", "dim_j", "n_vectors", "sum_micro",
                    (F.col("sum_micro").cast("double")
                     / F.col("n_vectors").cast("double"))
                    .alias("mean_micro")))


def embeddings_drift_audit_df(spark):
    """Arrow/numpy twin of :func:`embeddings_drift_audit` — the same
    per-batch partial-Gram kernel as :func:`embeddings_covariance_df`
    (:func:`_gram_acc`, one definition, two consumers) run once per
    parity side, so each input batch contributes one 2080-row partial
    frame of (dim_i, dim_j, n_a, n_b, s_a, s_b); the builtin hash
    aggregate merges partials, and the rank window runs on the
    2080-row aggregate. Bit-identical integers to the SQL explode
    fold (per-row floor then int64 sum), and each mean/drift is the
    same single bigint/bigint division + subtraction — the SQL form
    stays the cross-engine oracle. Measured 4.8x faster than the SQL
    explode fold on the identical Gram shape in round 9, which is why
    the registered Spark form is this twin (VERDICT r9 task 2)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    iu = np.triu_indices(DIM)
    out_schema = ("dim_i long, dim_j long, n_a long, n_b long, "
                  "s_a long, s_b long")

    def partial(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # split the batch by vec_id parity (the SQL form's
            # deterministic side key), keeping only well-formed
            # vectors — the covariance twin's filter, per side
            sides = {0: [], 1: []}
            for vid, v in zip(pdf["vec_id"], pdf["embedding"]):
                # NULL vec_id has no parity side (the SQL form's CASE
                # counts it on neither side); NULL/ragged vectors are
                # the covariance twin's filter. SQL modulo TRUNCATES
                # toward zero: a negative odd vec_id yields -1 in
                # Spark/DuckDB and matches neither CASE side, where
                # Python's floored % would say 1 — mirror the
                # truncated remainder and drop r == -1 rows
                if vid is not None and not pd.isna(vid) \
                        and v is not None and len(v) == DIM:
                    iv = int(vid)
                    r = iv % 2 if iv >= 0 else -((-iv) % 2)
                    if r in sides:
                        sides[r].append(
                            np.asarray(v, dtype=np.float64))
            if not sides[0] and not sides[1]:
                continue
            acc = {s: (_gram_acc(vs)[iu] if vs
                       else np.zeros(len(iu[0]), dtype=np.int64))
                   for s, vs in sides.items()}
            yield pd.DataFrame({
                "dim_i": iu[0] + 1, "dim_j": iu[1] + 1,
                "n_a": np.int64(len(sides[0])),
                "n_b": np.int64(len(sides[1])),
                "s_a": acc[0], "s_b": acc[1]})

    from aws_trusted_advisor_explorer_spark.session import kernel_partitions

    # same single-task-scan parallelization as the covariance twin
    v = spark.table("embeddings").select("vec_id", "embedding")
    v = v.repartition(kernel_partitions(v))
    part = v.mapInPandas(partial, schema=out_schema)
    g = (part.groupBy("dim_i", "dim_j")
         .agg(F.sum("n_a").alias("n_a"), F.sum("n_b").alias("n_b"),
              F.sum("s_a").alias("sum_a_micro"),
              F.sum("s_b").alias("sum_b_micro"))
         .filter((F.col("n_a") > 0) & (F.col("n_b") > 0))
         .withColumn(
             "drift_micro",
             F.abs(F.col("sum_a_micro").cast("double")
                   / F.col("n_a").cast("double")
                   - F.col("sum_b_micro").cast("double")
                   / F.col("n_b").cast("double"))))
    # rank window over the <= dim^2/2-row aggregate (the plan-audit
    # allowlist's bounded-relation justification for this key)
    w = Window.orderBy(F.desc("drift_micro"), "dim_i", "dim_j")
    return (g.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= DRIFT_TOP_K)
            .select("dim_i", "dim_j", "n_a", "n_b",
                    "sum_a_micro", "sum_b_micro", "drift_micro"))


PI_ITERS = 48         # convergence rate is (λ2/λ1)^k — the synthetic
                      # corpus is near-isotropic (λ2/λ1 ≈ 0.93) and
                      # needs ~48 rounds for cos ≥ 0.996 with truth;
                      # real embedding corpora have far larger gaps
PI_SCALE = 100_000    # eigenvector components rescaled to max-norm 1e5


def _power_guard(d: Dialect) -> str:
    """int64 headroom for the power step (the DSIR/BM25 enforcement
    rule): w_i = Σ_j G_ij·v_j with |v| ≤ {PI_SCALE} bounds |w| by
    {DIM}·max|G|·{PI_SCALE}, so max|G| must stay under
    INT64_MAX div ({DIM}·{PI_SCALE}) ≈ 1.4e12 micro units — holds to
    ~1e8 typical unit-normed vectors; past that rescale G (drop
    COV_SCALE) or swap to doubles. Evaluated on the one-row max|G|
    relation."""
    from aws_trusted_advisor_explorer_spark.functions.dual import INT64_MAX

    cap = INT64_MAX // (DIM * PI_SCALE)
    return d.check(
        f"coalesce(mxg, 0) <= {cap}",
        "embeddings_power_iteration: int64 headroom exceeded for the "
        "Gram-vector product; rescale the Gram quantization or swap "
        "to double arithmetic at this corpus scale")


def embeddings_power_iteration(d: Dialect) -> str:
    """TOP PRINCIPAL DIRECTION of the embedding second-moment (Gram)
    matrix by POWER ITERATION — the dominant eigenvector that
    whitening, drift attribution (WHICH direction moved), and
    low-rank debugging read off the covariance plane the Gram family
    already computes. {PI_ITERS} rounds of v ← G·v with a per-round
    max-norm rescale to {PI_SCALE}; the Rayleigh-style estimate
    λ = max|G·v| / max|v| ships alongside (micro units, G's scale).

    Determinism: G is the covariance plane's exact per-row-floored
    integers (shared :func:`_gram_pairs_select` definition,
    symmetrized); each product-sum is pure bigint (headroom ENFORCED
    by :func:`_power_guard`); the rescale is
    floor(w/max|w| · {PI_SCALE}) — one IEEE division, one multiply,
    one floor, identical on both engines. v₀ = all-{PI_SCALE} (fixed
    sign, so the eigenvector's sign ambiguity is pinned by
    construction).

    Scale posture (100 TB): corpus rows are touched ONCE (the Gram
    partial aggregate — the covariance twin's one tiny exchange);
    every iteration is a join/aggregate over the dim²-row G and the
    dim-row v — driver-scale-free. The REGISTERED Spark form is the
    iterative twin :func:`embeddings_power_iteration_df` (per-round
    64-row localCheckpoints — the BPE-trainer rule; THIS unrolled
    chain re-references each round's relation twice, which DuckDB
    MATERIALIZED-hints and Spark CTE inlining would re-evaluate
    exponentially, so the SQL form is oracle-only)."""
    rounds = []
    prev = "v0"
    for k in range(1, PI_ITERS + 1):
        rounds.append(f"""w{k} {d.cte_as()} (
  SELECT g.i AS dim, cast(sum(g.s * {prev}.v) as bigint) AS w
  FROM g JOIN {prev} ON {prev}.dim = g.j GROUP BY g.i
),
n{k} {d.cte_as()} (SELECT max(abs(w)) AS mx FROM w{k}),
v{k} {d.cte_as()} (
  SELECT dim, cast(floor(cast(w as double)
    / cast(greatest(mx, 1) as double) * {PI_SCALE}) as bigint) AS v
  FROM w{k} CROSS JOIN n{k}
)""")
        prev = f"v{k}"
    chain = ",\n".join(rounds)
    return f"""WITH x AS (
  {_gram_pairs_select(d)}
),
cov {d.cte_as()} (
  SELECT p.i AS i, p.j AS j, cast(sum(p.t) as bigint) AS s
  FROM x GROUP BY p.i, p.j
),
gchk {d.cte_as()} (SELECT max(abs(s)) AS mxg FROM cov),
g {d.cte_as()} (
  SELECT i, j, s FROM (
    SELECT i, j, s FROM cov
    UNION ALL
    SELECT j AS i, i AS j, s FROM cov WHERE i <> j
  ) m CROSS JOIN gchk WHERE {_power_guard(d)} IS NULL
),
v0 {d.cte_as()} (
  SELECT cast(dim as bigint) AS dim, cast({PI_SCALE} as bigint) AS v
  FROM (SELECT {d.explode(d.seq('1', str(DIM)))} AS dim) d0
),
{chain}
SELECT v{PI_ITERS}.dim AS dim_i, v{PI_ITERS}.v AS eig_scaled,
  cast({d.idiv('n' + str(PI_ITERS) + '.mx', str(PI_SCALE))} as bigint)
    AS lambda_micro
FROM v{PI_ITERS} CROSS JOIN n{PI_ITERS}"""


def embeddings_power_iteration_df(spark, base: str | None = None):
    """Arrow-kernel twin of :func:`embeddings_power_iteration` (the
    registered Spark form): G comes from the covariance plane's Arrow
    partial twin (same integers as the SQL fold) symmetrized and
    guard-checked IN-PLAN, then the {PI_ITERS}-round iteration runs
    as ONE numpy task over the coalesced dim²-row relation — after
    the corpus-scale Gram aggregate, the problem is dim²-sized by
    construction, so a single vectorized task (int64 matmul + the
    same floor(w/max·scale) float64 rescale the SQL form computes) is
    the right physical shape; per-round distributed joins would pay
    ~50 job round-trips to move 64-row relations (measured 12-24 s vs
    ~1 s for this kernel at sf0.01). Bit-equal to the DuckDB oracle's
    unrolled chain."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK

    # materialize the Gram ONCE: three references fan out below (upper
    # triangle, mirror, guard max) and would otherwise re-run the
    # corpus-scale covariance kernel per reference (measured: 4
    # MapInPandas subtrees in the executed plan). With ``base`` (the
    # session Gram plane, r13) the references read the already-
    # checkpointed plane — no per-run checkpoint needed.
    if base is not None:
        cov = (spark.table(base)
               .select("dim_i", "dim_j", F.col("sum_micro").alias("s")))
    else:
        cov = (embeddings_covariance_df(spark)
               .select("dim_i", "dim_j", F.col("sum_micro").alias("s"))
               .localCheckpoint(eager=False))
    mirror = (cov.filter("dim_i <> dim_j")
              .select(F.col("dim_j").alias("dim_i"),
                      F.col("dim_i").alias("dim_j"), "s"))
    gchk = cov.agg(F.max(F.abs(F.col("s"))).alias("mxg"))
    g = (cov.unionByName(mirror).crossJoin(gchk)
         .filter(F.expr(f"{_power_guard(SPARK)} IS NULL"))
         .select("dim_i", "dim_j", "s"))

    def iterate(batches):
        G = np.zeros((DIM, DIM), dtype=np.int64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            G[pdf["dim_i"].to_numpy() - 1,
              pdf["dim_j"].to_numpy() - 1] = pdf["s"].to_numpy()
        if not seen:
            return
        v = np.full(DIM, PI_SCALE, dtype=np.int64)
        mx = np.int64(0)
        for _ in range(PI_ITERS):
            w = G @ v  # exact int64 — headroom enforced by the guard
            mx = np.abs(w).max()
            # the SQL form's rescale verbatim: one IEEE division, one
            # multiply, one floor — identical doubles, identical ints
            v = np.floor(w.astype(np.float64) / float(max(mx, 1))
                         * PI_SCALE).astype(np.int64)
        yield pd.DataFrame({
            "dim_i": np.arange(1, DIM + 1, dtype=np.int64),
            "eig_scaled": v,
            "lambda_micro": np.int64(int(mx) // PI_SCALE)})

    # dim²-row relation -> one task holds all of G (the bounded-
    # single-partition justification: 4160 rows at dim 64)
    return g.coalesce(1).mapInPandas(
        iterate, schema="dim_i long, eig_scaled long, lambda_micro long")


PCA_DIRS = MRL_RECALL_DIM   # served-truncation width = rotated rank
PCA_SQUARINGS = 5           # G^(2^5): ~32 power steps per direction


def _pca_guard_div(x: str, m: str) -> str:
    """``x / m`` with the zero-max guard both engines and the numpy
    twin replay identically (divide by 1 when the max is exactly 0 —
    only reachable on an all-zero matrix/vector)."""
    return (f"{x} / (CASE WHEN {m} = cast(0 as double) "
            f"THEN cast(1 as double) ELSE {m} END)")


def _pca_dirs_ctes(d: Dialect) -> str:
    """CTE chain computing the top-{PCA_DIRS} principal directions of
    the embedding Gram matrix as ``pca_dirs(r, varr)`` — DEFLATED
    POWER ITERATION with the power steps batched by repeated matrix
    SQUARING: per direction, S ← (S/max|S|)² five times ≈ 32 power
    steps (G^32·1 has the same limit direction as 32 normalized
    iterations; the per-squaring max-rescale only tames the exponent),
    then v = rowsum(S)/max, the Rayleigh quotient λ = ⟨v,Gv⟩/⟨v,v⟩ on
    the ORIGINAL (deflated) G, and Hotelling deflation
    G ← G − λ·vvᵀ/⟨v,v⟩. Squaring turns 32 matvec rounds into 5
    matmul rounds, which keeps the unrolled chain at ~16 CTEs per
    direction instead of ~70 (the oracle's parse/plan budget).

    Determinism (the cross-engine double rule): G starts from the
    covariance plane's exact per-row-floored integers
    (:func:`_gram_pairs_select`, symmetrized) cast to double; every
    inner product is a FIXED-ORDER left fold over the dim index
    (``d.dot`` / ``d.fold``), every max is order-free, and every
    division/multiplication is a single IEEE op in pinned association
    order — so the DuckDB rendering and the numpy twin
    (:func:`pca_dirs_df`) produce bit-identical doubles. Like
    :func:`embeddings_power_iteration`, the unrolled SQL form is
    oracle-only; the registered Spark form is the kernel twin."""
    ca = d.cte_as()
    zero = "cast(0 as double)"
    rowmax = d.fold("garr", zero, "m", "x", "greatest(m, abs(x))")
    parts = [f"""xg AS (
  {_gram_pairs_select(d)}
),
covp {ca} (
  SELECT p.i AS i, p.j AS j, cast(sum(p.t) as bigint) AS s
  FROM xg GROUP BY p.i, p.j
),
gsym AS (
  SELECT i, j, s FROM covp
  UNION ALL
  SELECT j AS i, i AS j, s FROM covp WHERE i <> j
),
pg1 {ca} (
  SELECT i, {d.arr_agg_ordered('cast(s as double)', 'j')} AS garr
  FROM gsym GROUP BY i
)"""]
    for r in range(1, PCA_DIRS + 1):
        g = f"pg{r}"
        parts.append(f"pn{r} {ca} (SELECT max({rowmax}) AS mx FROM {g})")
        prev = f"ps{r}_0"
        parts.append(f"""{prev} {ca} (
  SELECT i, {d.transform('garr', 'x', _pca_guard_div('x', 'n.mx'))} AS garr
  FROM {g} CROSS JOIN pn{r} n
)""")
        for k in range(1, PCA_SQUARINGS + 1):
            s = f"ps{r}_{k}"
            # S symmetric -> column j IS row j, so the squaring is a
            # row-pair dot self-join; the fold runs ONCE per element
            # (innermost subquery), the max-rescale rides in a window
            # over the folded values
            parts.append(f"""{s} {ca} (
  SELECT i, {d.arr_agg_ordered(_pca_guard_div('val', 'mxv'), 'j')} AS garr
  FROM (
    SELECT i, j, val, max(abs(val)) OVER () AS mxv FROM (
      SELECT a.i AS i, b.i AS j, {d.dot('a.garr', 'b.garr')} AS val
      FROM {prev} a CROSS JOIN {prev} b
    ) t0
  ) w GROUP BY i
)""")
            prev = s
        parts.append(f"""pv{r} {ca} (
  SELECT {d.arr_agg_ordered(_pca_guard_div('w', 'mxw'), 'i')} AS varr
  FROM (
    SELECT i, w, max(abs(w)) OVER () AS mxw FROM (
      SELECT i, {d.fold('garr', zero, 's', 'x', 's + x')} AS w
      FROM {prev}
    ) v0
  ) w2
)""")
        parts.append(f"""pw{r} {ca} (
  SELECT {d.arr_agg_ordered('w', 'i')} AS warr FROM (
    SELECT g.i AS i, {d.dot('g.garr', 'v.varr')} AS w
    FROM {g} g CROSS JOIN pv{r} v) t
)""")
        parts.append(f"""pray{r} {ca} (
  SELECT v.varr AS varr,
    {d.dot('v.varr', 'w.warr')} / {d.dot('v.varr', 'v.varr')} AS lam,
    {d.dot('v.varr', 'v.varr')} AS den
  FROM pv{r} v CROSS JOIN pw{r} w
)""")
        if r < PCA_DIRS:
            defl = (f"{d.elem('g.garr', 'j')} - ray.lam * "
                    f"{d.elem('ray.varr', 'g.i')} * "
                    f"{d.elem('ray.varr', 'j')} / ray.den")
            parts.append(f"""pg{r + 1} {ca} (
  SELECT g.i AS i,
    {d.transform(d.seq('1', str(DIM)), 'j', defl)} AS garr
  FROM {g} g CROSS JOIN pray{r} ray
)""")
    dirs = "\n  UNION ALL\n  ".join(
        f"SELECT cast({r} as bigint) AS r, varr FROM pray{r}"
        for r in range(1, PCA_DIRS + 1))
    parts.append(f"pca_dirs AS (\n  {dirs}\n)")
    return ",\n".join(parts)


def knn_pca_prefix_recall(d: Dialect, dirs: str | None = None) -> str:
    """The TRAINED-truncation acceptance gate (r11 verdict task 2):
    recall@{TOP_K} of the exact top-k in the {PCA_DIRS}-dim
    PCA-ROTATED space vs the full-{DIM}-dim exact top-k — side by
    side with the RAW-prefix rung on the same query set, so the
    report itself shows what the rotation buys. The serving story:
    :func:`embeddings_matryoshka_recall` proved the raw 16-dim
    prefix is worthless on an untrained corpus (recall ~3-7%);
    projecting onto the top principal directions first is the
    standard PCA-truncation fix that makes a 4x-smaller serving
    index earn its recall (here ~3x the raw rung at both test
    scales — bounded by how anisotropic the corpus actually is;
    a trained Matryoshka model would widen the gap further).

    With ``dirs`` (Spark side) the rotation comes from the
    session-materialized direction plane (:func:`ensure_pca_dirs` —
    the train-once / serve-many index lifecycle); without it the
    chain is self-contained (DuckDB oracle). Both arms of the gate
    are exact brute force (the gate family's rule); vectors with a
    zero norm in the rotated/prefix space have no direction there —
    their cosine is NULL and they are excluded from that ranking
    (the matryoshka-recall precedent, one level down).

    Scale posture (100 TB): training reads the corpus once (the Gram
    partial aggregate); everything until the projection is dim²-sized.
    The projection joins each vector against the broadcast {PCA_DIRS}-
    row direction table — one map-side pass, no shuffle beyond the
    projection groupBy (keyed on vec_id, combinable). The gate's
    cross-join arms are evaluation-only, run on a query sample; the
    Spark form pins BROADCAST(q) (the query sample is the small side
    by construction, but it reaches the join through the zv join so
    Catalyst's size estimate is too conservative to pick the
    broadcast nested-loop shape the sibling gates get automatically
    — without the hint the plan degrades to CartesianProduct)."""
    if dirs is not None:
        head = f"WITH pca_dirs AS (SELECT r, varr FROM {dirs})"
    else:
        head = f"WITH {_pca_dirs_ctes(d)}"
    sl = lambda col: d.slice(col, "1", PCA_DIRS)
    pn = f"sqrt({d.dot(sl('embedding'), sl('embedding'))})"
    cos = f"{d.dot('q.embedding', 'c.embedding')} / (q.nrm * c.nrm)"
    zcos = (f"CASE WHEN q.znrm * c.znrm = cast(0 as double) THEN NULL "
            f"ELSE {d.dot('q.zarr', 'c.zarr')} / (q.znrm * c.znrm) END")
    pcos = (f"CASE WHEN q.pnrm * c.pnrm = cast(0 as double) THEN NULL "
            f"ELSE {d.dot(sl('q.embedding'), sl('c.embedding'))}"
            f" / (q.pnrm * c.pnrm) END")
    return f"""{head},
b AS ({_vec_base(d)}),
zp AS (
  SELECT b.vec_id, dd.r, {d.dot('dd.varr', 'b.embedding')} AS z
  FROM b CROSS JOIN pca_dirs dd
),
zv AS (
  SELECT vec_id, {d.arr_agg_ordered('z', 'r')} AS zarr
  FROM zp GROUP BY vec_id
),
vv AS (
  SELECT b.vec_id, b.embedding, b.nrm, zv.zarr,
    sqrt({d.dot('zv.zarr', 'zv.zarr')}) AS znrm, {pn} AS pnrm
  FROM b JOIN zv ON zv.vec_id = b.vec_id
),
q AS (SELECT * FROM vv WHERE vec_id % {QUERY_MOD} = 0),
c AS (SELECT * FROM vv WHERE vec_id % {QUERY_MOD} <> 0),
scored AS (
  SELECT {'/*+ BROADCAST(q) */ ' if d.name == 'spark' else ''}q.vec_id AS query_id, c.vec_id AS neighbor_id,
    {cos} AS cosine, {zcos} AS zcosine, {pcos} AS pcosine
  FROM q CROSS JOIN c
),
rf AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
),
rz AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY zcosine DESC, neighbor_id) AS rank
  FROM scored WHERE zcosine IS NOT NULL
),
rp AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY pcosine DESC, neighbor_id) AS rank
  FROM scored WHERE pcosine IS NOT NULL
)
SELECT rf.query_id,
  cast({PCA_DIRS} as bigint) AS k_dims,
  cast(count(rz.neighbor_id) as bigint) AS pca_hits,
  cast(count(rz.neighbor_id) as double) / {TOP_K} AS pca_recall,
  cast(count(rp.neighbor_id) as bigint) AS raw_hits,
  cast(count(rp.neighbor_id) as double) / {TOP_K} AS raw_recall
FROM rf
LEFT JOIN rz ON rz.query_id = rf.query_id
  AND rz.neighbor_id = rf.neighbor_id AND rz.rank <= {TOP_K}
LEFT JOIN rp ON rp.query_id = rf.query_id
  AND rp.neighbor_id = rf.neighbor_id AND rp.rank <= {TOP_K}
WHERE rf.rank <= {TOP_K}
GROUP BY rf.query_id"""


def pca_dirs_df(spark, base: str | None = None):
    """Numpy kernel twin of :func:`_pca_dirs_ctes` (the registered
    Spark form): the Gram comes from the covariance plane's Arrow
    partial twin (same integers as the SQL fold), then the deflated
    squaring iteration runs as ONE vectorized task over the coalesced
    dim²-row relation — the :func:`embeddings_power_iteration_df`
    physical shape (after the corpus-scale aggregate the problem is
    dim²-sized by construction). Every reduction replays the SQL
    chain's left-fold order exactly (column-ascending accumulation;
    scalar folds as explicit loops), every rescale/deflation is the
    same pinned association order — bit-identical doubles, pinned by
    the replay pytest. With ``base`` (the session Gram plane, r13)
    the Gram is a plane scan instead of a fresh corpus aggregate."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    cov = (embeddings_covariance_df(spark, base=base)
           .select("dim_i", "dim_j", F.col("sum_micro").alias("s")))

    def kernel(batches):
        G = np.zeros((DIM, DIM), dtype=np.float64)
        seen = False
        for pdf in batches:
            if not len(pdf):
                continue
            seen = True
            ii = pdf["dim_i"].to_numpy() - 1
            jj = pdf["dim_j"].to_numpy() - 1
            ss = pdf["s"].to_numpy().astype(np.float64)
            G[ii, jj] = ss
            G[jj, ii] = ss  # symmetrize (upper triangle input)
        if not seen:
            return

        def gmax(M):
            m = np.abs(M).max()
            return m if m != 0.0 else 1.0

        dirs = []
        for _ in range(PCA_DIRS):
            S = G / gmax(G)
            for _ in range(PCA_SQUARINGS):
                # C_ij = left-fold_k S_ik*S_jk (column-ascending — the
                # d.dot order over symmetric rows)
                C = np.zeros((DIM, DIM), dtype=np.float64)
                for k in range(DIM):
                    C = C + np.outer(S[:, k], S[:, k])
                S = C / gmax(C)
            v = np.zeros(DIM, dtype=np.float64)
            for j in range(DIM):           # rowsum, fold order
                v = v + S[:, j]
            v = v / gmax(v)
            w = np.zeros(DIM, dtype=np.float64)
            for j in range(DIM):           # G·v, fold order
                w = w + G[:, j] * v[j]
            num = 0.0
            den = 0.0
            for j in range(DIM):           # scalar folds (d.dot)
                num = num + v[j] * w[j]
                den = den + v[j] * v[j]
            lam = num / den
            dirs.append(v.copy())
            # deflation in the SQL's association order:
            # g - (((lam*v_i)*v_j)/den)
            G = G - np.outer(lam * v, v) / den
        yield pd.DataFrame({
            "r": np.arange(1, PCA_DIRS + 1, dtype=np.int64),
            "varr": [list(v) for v in dirs]})

    return cov.coalesce(1).mapInPandas(
        kernel, schema="r long, varr array<double>")


PCA_DIRS_VIEW = "__emb_pca_dirs"


@session_plane("emb_pca_dirs", deps=("emb_gram",))
def ensure_pca_dirs(spark, key: object = None) -> str:
    """Materialize the trained PCA direction table once per (session,
    dataset) — the train-once / serve-many rotation every PCA-prefix
    probe reads (a {PCA_DIRS}-row broadcastable dimension)."""
    materialize_plane_df(
        pca_dirs_df(spark, base=ensure_emb_gram_view(spark, key)),
        PCA_DIRS_VIEW)
    return PCA_DIRS_VIEW


CLIP_LO_PCT = 0.01   # robust clip bounds: p1 / p99 per dimension
CLIP_HI_PCT = 0.99
CLIP_SCALE = 1_000_000  # values quantized to integer micros


def embeddings_clip_calibration(d: Dialect) -> str:
    """Per-dimension CLIP-bound calibration for symmetric int8
    quantization — the missing input of embeddings_sq_int8's story:
    naive max-abs scaling lets one outlier coordinate blow up the
    quantization step for the whole dimension, so production
    quantizers clip at robust percentiles first. Per dim: exact
    p{int(CLIP_LO_PCT * 100)}/p{int(CLIP_HI_PCT * 100)} of the
    micro-quantized values, the symmetric clip bound
    max(|p1|, |p99|), and the implied int8 step (clip/127) — all
    exact integers, rank-selected (the events_value_quantiles index
    rule: no interpolation, no approx drift).

    Computed on the COMPACTED (dim, micro-value) histogram: the
    explode is task-local, the histogram groupBy map-side-combines,
    and the rank-selection windows run per dim over histogram rows —
    bounded by the value DOMAIN (≤ ~2·{CLIP_SCALE} distinct micros
    per dim for unit-normed data), never by corpus rows; partitioned
    by dim, so no single-partition funnel. 64-row output.

    Malformed vectors (NULL / ragged) are excluded by the covariance
    rule; NULL elements inside a well-formed vector are skipped (they
    carry no value to clip)."""
    ei = f"cast({d.elem('embedding', 'i')} as double)"
    pair = d.struct_(("i", "cast(i as bigint)"),
                     ("vm", f"cast(floor({ei} * {CLIP_SCALE}) as bigint)"))
    arr = d.transform(d.seq("1", str(DIM)), "i", pair)
    rank = lambda p: (f"cast(floor((n - 1) * {p}) as bigint) + 1")
    return f"""WITH x AS (
  SELECT {d.explode(arr)} AS p FROM embeddings
  WHERE {d.arr_len('embedding')} = {DIM}
),
h AS (
  SELECT p.i AS i, p.vm AS vm, cast(count(*) as bigint) AS m
  FROM x WHERE p.vm IS NOT NULL GROUP BY p.i, p.vm
),
cdf AS (
  SELECT i, vm, m,
    sum(m) OVER (PARTITION BY i ORDER BY vm
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
    sum(m) OVER (PARTITION BY i) AS n
  FROM h
),
sel AS (
  SELECT i, cast(max(n) as bigint) AS n_values,
    min(CASE WHEN cum >= {rank(CLIP_LO_PCT)} THEN vm END) AS p_lo,
    min(CASE WHEN cum >= {rank(CLIP_HI_PCT)} THEN vm END) AS p_hi
  FROM cdf GROUP BY i
)
SELECT i AS dim_i, n_values,
  p_lo AS p01_micro, p_hi AS p99_micro,
  greatest(abs(p_lo), abs(p_hi)) AS clip_abs_micro,
  cast({d.idiv('greatest(abs(p_lo), abs(p_hi))', '127')} as bigint)
    AS int8_step_micro
FROM sel"""


RRF_K = 60          # the standard reciprocal-rank-fusion constant
HYBRID_TOP_T = 10   # text-arm candidates per query
HYBRID_K = 10       # fused results per query


def docs_hybrid_search_rrf(d: Dialect, base: str | None = None) -> str:
    """HYBRID retrieval with reciprocal-rank fusion (Cormack et al.
    2009 — the BM25+vector fusion modern search stacks run): for each
    query document (doc_id % {QUERY_MOD} = 0, paired with its query
    vector by the documents↔embeddings id correspondence), a TEXT arm
    ranks corpus docs by shared 3-gram shingle count (DF-capped
    against boilerplate, like the exact-Jaccard path) and a VECTOR arm
    ranks by bucketed-LSH cosine (knn_lsh verbatim); the arms fuse by
    RRF score Σ 1/({RRF_K}+rank) — rank-only fusion needs no score
    calibration between arms, which is why RRF is the default fusion
    everywhere.

    Doubles are single divisions + one two-term sum — cross-engine
    exact; ties break on candidate id.

    Scale posture (100 TB): the text arm is the eval-side-only shingle
    probe (query-side shingles only join the corpus relation — the
    contamination rail) with the DF cap bounding per-shingle fan-out;
    the vector arm is the bucket equi-join; both arms emit top-k
    relations (query-set-sized), so the fusion join and final window
    are negligible. On Spark both arms reuse session-materialized
    planes (shingle view; the LSH arm's plan is shared with knn_lsh).
    """
    from aws_trusted_advisor_explorer_spark.operators.dedup import (
        _capped_shingle_cte,
    )

    def rrf(rank: str) -> str:
        # whole-term helper: locally balanced parens (a dangling-paren
        # prefix string desyncs silently on edit)
        return (f"coalesce(cast(1 as double) / ({RRF_K} + {rank}), "
                f"cast(0 as double))")

    # the text arm reads dedup's DF-capped shingle relation fs2 — the
    # ONE cap implementation; with base set it is the materialized
    # SHINGLE_CAPPED_VIEW, so the tc self-join's two references don't
    # re-run the cap GROUP BY under CTE inlining
    return f"""{_capped_shingle_cte(d, base)},
tc AS (
  SELECT q.doc_id AS qid, c.doc_id AS cid, count(*) AS n_common
  FROM fs2 q
  JOIN fs2 c ON c.hv = q.hv AND c.doc_id % {QUERY_MOD} <> 0
  WHERE q.doc_id % {QUERY_MOD} = 0
  GROUP BY q.doc_id, c.doc_id
),
tr AS (
  SELECT qid, cid, rank_t FROM (
    SELECT qid, cid,
      row_number() OVER (PARTITION BY qid ORDER BY n_common DESC, cid)
        AS rank_t
    FROM tc
  ) x WHERE rank_t <= {HYBRID_TOP_T}
),
vr AS (
{knn_lsh(d)}
),
fused AS (
  SELECT coalesce(t.qid, v.query_id) AS query_id,
    coalesce(t.cid, v.neighbor_id) AS candidate_id,
    t.rank_t, v.rank AS rank_v,
    {rrf('t.rank_t')} +
    {rrf('v.rank')} AS rrf_score
  FROM tr t FULL OUTER JOIN vr v
    ON v.query_id = t.qid AND v.neighbor_id = t.cid
)
SELECT query_id, candidate_id, rank_t, rank_v, rrf_score, fused_rank
FROM (
  SELECT query_id, candidate_id, rank_t, rank_v, rrf_score,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY rrf_score DESC, candidate_id) AS fused_rank
  FROM fused
) f WHERE fused_rank <= {HYBRID_K}"""


BUILDERS = {
    "knn_bruteforce": knn_bruteforce,
    "knn_lsh": knn_lsh,
    "knn_recall_at_k": knn_recall_at_k,
    "knn_range_search": knn_range_search,
    "knn_hamming_rerank": knn_hamming_rerank,
    "knn_hamming_recall": knn_hamming_recall,
    "knn_filtered": knn_filtered,
    "knn_serving_report": knn_serving_report,
    # embeddings_power_iteration is deliberately NOT here (the BPE-
    # trainer rule: its unrolled SQL chain is DuckDB-oracle-only —
    # Spark CTE inlining re-evaluates the per-round double references
    # exponentially); __spark_entry__ registers the Arrow-kernel twin
    # and wires the oracle manually.
    "embeddings_clip_calibration": embeddings_clip_calibration,
    "embeddings_covariance": embeddings_covariance,
    "embeddings_drift_audit": embeddings_drift_audit,
    "embeddings_norm_audit": embeddings_norm_audit,
    "embeddings_matryoshka_audit": embeddings_matryoshka_audit,
    "embeddings_matryoshka_recall": embeddings_matryoshka_recall,
    "docs_hybrid_search_rrf": docs_hybrid_search_rrf,
}
