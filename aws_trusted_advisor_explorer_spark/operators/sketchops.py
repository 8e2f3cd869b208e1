"""Mergeable approximate-aggregate sketches over the event stream and
document corpus: HyperLogLog distinct counting, count-min heavy
hitters, and KMV (k-minimum-values / theta) distinct-union estimation.

Extension plane (no reference counterpart — the reference's only
aggregate is the per-run summary row, SURVEY.md §2.6): these are the
operators a 100 TB training-data pipeline needs when exact
``count(DISTINCT ...)`` / ``GROUP BY user`` rollups stop fitting —
every sketch here is a FIXED-SIZE state that partial-aggregates
map-side and merges associatively, which is precisely what a
1000-executor tree aggregation wants. Public algorithms: HLL
(Flajolet et al. 2007), count-min (Cormode & Muthukrishnan 2005),
KMV/theta (Bar-Yossef et al. 2002; Dasu et al.).

Cross-engine determinism: every sketch is built from scratch in
dual-dialect SQL over integer modular arithmetic (no engine-native
``approx_count_distinct`` — Spark's HLL++ and DuckDB's approx sketches
hash differently, so their estimates can never hash-match an oracle).
The only floating-point ops are in the final HLL estimate — IEEE basic
ops (+ - * /) over exactly-derived values, which are bit-deterministic
across engines. Engine ``ln``/``exp`` are NOT exactly specified, so
the linear-counting small-range branch reads a precomputed integer
micro-nat table literal instead of calling ``ln`` at query time.

Every estimate ships WITH its exact ground truth and an integer error
column: like ``knn_recall_at_k`` and ``dedup_lsh_recall``, an
approximate operator is only shippable alongside its measured quality.
"""

from __future__ import annotations

from aws_trusted_advisor_explorer_spark.functions.dual import (
    Dialect,
    P_MOD,
)

# --- shared integer hash -------------------------------------------------
# xorshift-multiply mix (Knuth's 2654435761 golden-ratio multiplier):
# measured to hit the expected HLL bucket occupancy on sequential ids
# where a plain 2-round LCG drew 1.7 sigma low. All intermediates fit
# int64 ((2^30) * MIX_MULT < 2^62); output range [0, 2^30).
MIX_MULT = 2_654_435_761


def _mix(d: Dialect, expr: str) -> str:
    """Deterministic bigint hash of a non-negative bigint expression
    into [0, 2^30). The duplicated sub-expressions are whole-stage-
    codegen integer ops, not a re-evaluated relation."""
    x0 = f"(({expr}) % {P_MOD})"
    x1 = f"({d.xor(x0, d.bitslice(x0, 13, (1 << 22) - 1))})"
    x2 = f"(({x1} * {MIX_MULT}) % {P_MOD})"
    return f"({d.xor(x2, d.bitslice(x2, 11, (1 << 22) - 1))})"


# --- HyperLogLog ---------------------------------------------------------
HLL_M = 256            # registers (8 bucket bits); std error ~ 1.04/sqrt(m) = 6.5%
HLL_W = 22             # rank-window bits: hv < P_MOD < 2^30, minus 8 bucket bits
HLL_RHO_MAX = HLL_W + 1
# alpha_m * m^2 * 2^(W+1): the whole numerator of the raw HLL estimator,
# precomputed to one double literal (repr round-trips exactly in both
# engines' parsers); Z_int below carries the denominator at 2^(W+1) scale
_HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
HLL_NUMER = _HLL_ALPHA * HLL_M * HLL_M * float(2 ** HLL_RHO_MAX)

# linear-counting micro-nat table: _LN_MICRO[v] = round(ln(m / v) * 1e6)
# for v = 1..m empty registers. The engines' ln() is NOT IEEE-exactly
# specified (unlike + - * / which are), so the small-range correction
# ships as an integer lookup literal instead of calling ln at query time
# — the frozen-model-as-plan-literal discipline of the BPE merge table,
# and at {HLL_M} entries it stays far below the plan-size thresholds.
import math as _math

_LN_MICRO = [round(_math.log(HLL_M / v) * 1_000_000)
             for v in range(1, HLL_M + 1)]


def _hll_registers(d: Dialect, group_cols: str, rows: str) -> str:
    """Register CTE body: per (``group_cols``, bucket), the max rank
    (position of the leading 1-bit in the {HLL_W}-bit window) plus the
    per-bucket EXACT distinct count (bucket is a function of the user
    hash, so distinct users partition by bucket and the exact corpus
    count is the plain sum of per-bucket counts — ground truth rides
    the same single aggregation pass)."""
    return f"""
  SELECT {group_cols}, bucket,
    max(CASE WHEN w = 0 THEN {HLL_RHO_MAX}
             ELSE {HLL_W + 1} - length(bin(w)) END) AS rho,
    cast(count(DISTINCT user_id) as bigint) AS nd_bucket
  FROM (
    SELECT {group_cols}, user_id, hv % {HLL_M} AS bucket,
      {d.idiv('hv', str(HLL_M))} AS w
    FROM {rows}
  ) hb
  GROUP BY {group_cols}, bucket"""


def _hll_est(d: Dialect, z_int: str, n_empty: str) -> str:
    """Standard HLL estimate: raw ``alpha * m^2 / Z`` with the
    small-range linear-counting branch ``m * ln(m / V)`` when the raw
    estimate is under 2.5m and V registers are still empty (the raw
    estimator is biased high in that regime — Flajolet et al. 2007).
    Every op is an exactly-specified IEEE basic op over exactly-derived
    integers, so the double is bit-identical across engines."""
    raw = f"(cast('{HLL_NUMER!r}' as double) / cast({z_int} as double))"
    table = d.arr_lit([str(v) for v in _LN_MICRO])
    idx = f"cast({n_empty} as int)"
    lc = (f"(cast({HLL_M} * {d.elem(table, idx)} as double) "
          f"/ cast(1000000 as double))")
    return (f"(CASE WHEN {n_empty} > 0 AND {raw} <= {(HLL_M * 5) // 2} "
            f"THEN {lc} ELSE {raw} END)")


def events_hll_distinct(d: Dialect) -> str:
    """Distinct users per event type: {HLL_M}-register HyperLogLog
    estimate next to the exact count and the integer relative error.

    Scale posture (100 TB): ONE aggregation pass over events with full
    map-side combine — per-partition partial state is m={HLL_M}
    registers per group (max() merges associatively), so the shuffle
    carries group-count x {HLL_M} rows regardless of stream size. The
    exact count rides the same pass only because bucket partitions the
    distinct users (count(DISTINCT) inside a bucket); at real scale you
    drop ``n_exact``/``err_milli`` and keep the sketch — the fixture
    keeps them as the acceptance gate, like knn_recall_at_k."""
    return f"""WITH e AS (
  SELECT event_type, user_id, {_mix(d, 'user_id')} AS hv
  FROM events WHERE user_id IS NOT NULL
),
reg AS ({_hll_registers(d, 'event_type', 'e')}),
agg AS (
  SELECT event_type,
    cast(sum({d.shl('1', f'{HLL_RHO_MAX} - rho')}) as bigint)
      + {d.shl(f'cast({HLL_M} - count(*) as bigint)', str(HLL_RHO_MAX))}
      AS z_int,
    cast({HLL_M} - count(*) as bigint) AS n_empty,
    cast(sum(nd_bucket) as bigint) AS n_exact
  FROM reg GROUP BY event_type
)
SELECT event_type, n_exact, hll_est,
  CASE WHEN n_exact = 0 THEN cast(NULL as bigint)
       ELSE cast(floor(abs(hll_est - cast(n_exact as double))
            * cast(1000 as double) / cast(n_exact as double)) as bigint)
  END AS err_milli
FROM (
  SELECT event_type, n_exact,
    {_hll_est(d, 'z_int', 'n_empty')} AS hll_est
  FROM agg
) e2"""


def events_hll_merge(d: Dialect) -> str:
    """HLL mergeability audit: registers built per (event_type, day)
    then merged with max() must equal registers built directly over the
    whole stream — the algebraic property that lets a 1000-executor
    tree (or a day-partitioned incremental pipeline) pre-aggregate
    sketches without ever re-reading raw data. Emits, per event type,
    the register count, the number of disagreeing registers (0 by the
    max-merge algebra — the committed proof), and both estimates.

    Two deliberate aggregation passes over events (direct + sliced);
    each is map-side combining, and the compare joins two
    register-table-sized relations ({HLL_M} rows per group)."""
    sliced = f"""
  SELECT event_type, bucket, max(rho) AS rho
  FROM (
    SELECT event_type, d_day, bucket,
      max(CASE WHEN w = 0 THEN {HLL_RHO_MAX}
               ELSE {HLL_W + 1} - length(bin(w)) END) AS rho
    FROM (
      SELECT event_type, cast(ts as date) AS d_day,
        hv % {HLL_M} AS bucket, {d.idiv('hv', str(HLL_M))} AS w
      FROM e
    ) hb
    GROUP BY event_type, d_day, bucket
  ) per_day
  GROUP BY event_type, bucket"""
    return f"""WITH e AS (
  SELECT event_type, user_id, ts, {_mix(d, 'user_id')} AS hv
  FROM events WHERE user_id IS NOT NULL
),
reg_direct AS ({_hll_registers(d, 'event_type', 'e')}),
reg_merged AS ({sliced}),
cmp AS (
  SELECT
    coalesce(dd.event_type, mm.event_type) AS event_type,
    CASE WHEN dd.rho IS NULL OR mm.rho IS NULL
              OR dd.rho <> mm.rho THEN 1 ELSE 0 END AS disagree,
    dd.rho AS rho_d, mm.rho AS rho_m
  FROM reg_direct dd FULL OUTER JOIN reg_merged mm
    ON mm.event_type = dd.event_type AND mm.bucket = dd.bucket
)
SELECT event_type,
  cast(count(*) as bigint) AS n_registers,
  cast(sum(disagree) as bigint) AS n_disagree,
  cast(sum(CASE WHEN rho_d IS NULL THEN 0
       ELSE {d.shl('1', f'{HLL_RHO_MAX} - rho_d')} END) as bigint)
    AS z_partial_direct,
  cast(sum(CASE WHEN rho_m IS NULL THEN 0
       ELSE {d.shl('1', f'{HLL_RHO_MAX} - rho_m')} END) as bigint)
    AS z_partial_merged
FROM cmp GROUP BY event_type"""


# --- count-min sketch ----------------------------------------------------
CMS_W = 512            # counters per hash row
# one hash row per salt pair
CMS_SALTS = ((131, 7), (1009, 101), (9176, 911), (30011, 3301))
# heavy hitter = CMS estimate >= HEAVY_NUM/HEAVY_DEN of the stream
HEAVY_NUM, HEAVY_DEN = 1, 125


def _cms_codes(d: Dialect, hv: str) -> str:
    """Array of the flattened sketch coordinates for one key, one per
    hash row:
    ``code_i = i * {CMS_W} + ((hv * a_i + b_i) % P) % {CMS_W}`` — a
    single-integer encoding so build and probe explode ONE bigint array
    (a UNION ALL branch per hash row would re-evaluate the source CTE
    per branch under both engines' inlining; cf. the bloom prefilter)."""
    return d.arr_lit([
        f"cast({i * CMS_W} + (({hv}) * {a} + {b}) % {P_MOD} % {CMS_W} "
        f"as bigint)"
        for i, (a, b) in enumerate(CMS_SALTS)])


def events_cms_heavy_hitters(d: Dialect) -> str:
    """Heavy-hitter users via a count-min sketch of {CMS_W}-counter rows
    (one per CMS_SALTS pair), with exact counts as the acceptance
    gate: users whose CMS estimate is at least {HEAVY_NUM}/{HEAVY_DEN}
    of the whole stream, with the guaranteed-non-negative overcount
    (CMS never undercounts — min of one upper-bound counter per row)
    next to each estimate.

    Scale posture (100 TB): the sketch build is one map-side-combining
    aggregate whose output is FIXED at {CMS_W} counters per hash row
    regardless of stream size or user cardinality — the whole
    point vs the exact per-user groupBy, which this query also runs as
    its ground truth (at real scale the probe side is a small candidate
    list, not every user; the relative threshold needs only the stream
    total, a 1-row SCALAR-SUBQUERY aggregate — never a global window
    over the user-cardinality estimate relation, which would
    single-partition it). Three deliberate distributed scans of events
    (sketch + exact + total), all partial-aggregating."""
    return f"""WITH e AS (
  SELECT user_id, {_mix(d, 'user_id')} AS hv
  FROM events WHERE user_id IS NOT NULL
),
sk AS (
  SELECT code, cast(count(*) as bigint) AS c
  FROM (SELECT {d.explode(_cms_codes(d, 'hv'))} AS code FROM e)
  GROUP BY code
),
u AS (
  SELECT user_id, min(hv) AS hv, cast(count(*) as bigint) AS n_exact
  FROM e GROUP BY user_id
),
probe AS (
  SELECT user_id, n_exact, {d.explode(_cms_codes(d, 'hv'))} AS code
  FROM u
),
est AS (
  SELECT p.user_id, max(p.n_exact) AS n_exact,
    min(sk.c) AS cms_est
  FROM probe p JOIN sk ON sk.code = p.code
  GROUP BY p.user_id
)
SELECT user_id, n_exact, cms_est,
  cms_est - n_exact AS overcount
FROM est
WHERE cms_est * {HEAVY_DEN} >=
  (SELECT cast(count(*) as bigint) FROM e) * {HEAVY_NUM}"""


# --- KMV / theta sketch --------------------------------------------------
KMV_K = 64             # sketch size: k minimum hash values
KMV_SHARDS = 64        # hash-shard fan-in for the two-level direct top-k


def docs_kmv_distinct_union(d: Dialect, base: str | None = None) -> str:
    """Distinct-document estimation with KMV (k-minimum-values / theta)
    sketches over content hashes, and the committed mergeability proof:
    the k smallest hashes of the UNION of per-source sketches must
    equal the k smallest over the whole corpus (any corpus-top-k value
    has fewer than k values below it globally, hence fewer than k
    within its own source — merge is lossless for the top-k). One row:
    source count, exact distinct, both sketch estimates
    ``(k-1) * P / h_k`` in exact integer arithmetic, their agreement
    flag, and the direct estimate's integer relative error.

    Scale posture (100 TB): NO global sort anywhere. The per-source
    sketches use a source-partitioned row_number window; the direct
    sketch is a two-level top-k — per hash-shard ({KMV_SHARDS} shards)
    then a global pass over the {KMV_SHARDS}x{KMV_K}-row survivor
    relation; the merged sketch windows over the sources x {KMV_K}
    union of sketches. Every window partition is bounded. On the Spark
    side the content-hash relation comes from the session-materialized
    dochash view (:func:`~.dedup.ensure_dochash_view`); self-contained
    chain for the DuckDB oracle."""
    # NULL-text docs are excluded from the content-hash sketch domain:
    # NULL content has no hash, and the engines disagree on what it
    # would otherwise become (Spark's char-fold yields NULL — and NULL
    # hv ORDERS differently per engine inside the sketch windows —
    # while DuckDB folds the empty char list to the HASH_INIT
    # constant, a real value). The self-contained form filters the
    # text, the plane-backed form the (Spark-)NULL hv; NULL-text docs
    # themselves are kept by every pipeline tier — they just occupy no
    # sketch slot.
    k_body = (f"SELECT doc_id, source, hv FROM {base} "
              f"WHERE hv IS NOT NULL" if base is not None
              else f"SELECT doc_id, source, {d.poly_hash('text')} AS hv "
                   f"FROM documents WHERE text IS NOT NULL")

    def est(rel: str) -> str:
        return (f"CASE WHEN {rel}.n_k < {KMV_K} "
                f"THEN cast({rel}.n_k as bigint) "
                f"ELSE {d.idiv(f'{KMV_K - 1} * cast({P_MOD} as bigint)', f'{rel}.h_k')} "
                f"END")

    ca = d.cte_as()
    return f"""WITH k {ca} (
  {k_body}
),
dh AS (SELECT DISTINCT source, hv FROM k),
ps AS (
  SELECT source, hv,
    row_number() OVER (PARTITION BY source ORDER BY hv) AS r
  FROM dh
),
sk AS (SELECT source, hv FROM ps WHERE r <= {KMV_K}),
cd {ca} (SELECT DISTINCT hv FROM k),
shard_top AS (
  SELECT hv FROM (
    SELECT hv,
      row_number() OVER (PARTITION BY hv % {KMV_SHARDS} ORDER BY hv) AS r
    FROM cd
  ) s WHERE r <= {KMV_K}
),
skd AS (
  SELECT hv, r FROM (
    SELECT hv, row_number() OVER (ORDER BY hv) AS r FROM shard_top
  ) s WHERE r <= {KMV_K}
),
skm AS (
  SELECT hv, r FROM (
    SELECT hv, row_number() OVER (ORDER BY hv) AS r
    FROM (SELECT DISTINCT hv FROM sk) mu
  ) s WHERE r <= {KMV_K}
),
dstats AS (
  SELECT cast(count(*) as bigint) AS n_k,
    max(CASE WHEN r = {KMV_K} THEN hv END) AS h_k
  FROM skd
),
mstats AS (
  SELECT cast(count(*) as bigint) AS n_k,
    max(CASE WHEN r = {KMV_K} THEN hv END) AS h_k
  FROM skm
),
agree AS (
  SELECT cast(count(*) as bigint) AS n_disagree
  FROM skd dd FULL OUTER JOIN skm mm ON mm.hv = dd.hv
  WHERE dd.hv IS NULL OR mm.hv IS NULL
),
exact AS (SELECT cast(count(*) as bigint) AS n_exact FROM cd),
srcs AS (SELECT cast(count(DISTINCT source) as bigint) AS n_sources FROM dh)
SELECT srcs.n_sources, exact.n_exact,
  {est('dstats')} AS kmv_est_direct,
  {est('mstats')} AS kmv_est_merged,
  CASE WHEN agree.n_disagree = 0 THEN 1 ELSE 0 END AS merge_matches_direct,
  CASE WHEN exact.n_exact = 0 THEN cast(NULL as bigint)
       ELSE {d.idiv(f"abs({est('dstats')} - exact.n_exact) * 1000",
                    'exact.n_exact')}
  END AS err_milli
FROM srcs, exact, agree, dstats, mstats"""


# --- fixed-bin histogram quantiles ---------------------------------------
HIST_BINS = 256


def events_hist_quantiles(d: Dialect) -> str:
    """Quantiles from a fixed {HIST_BINS}-bin equi-width histogram —
    the mergeable-quantile rung of the sketch family (bin counts merge
    by ADDITION across partitions/days, the property percentile_approx
    gets from its engine-specific digest but expressed here in
    oracle-able arithmetic). Per event type: p50/p99 histogram
    estimates (bin midpoints) beside the exact rank-selection values,
    with the error as an integer share of the value RANGE — provably
    bounded by half a bin width (the true quantile lies inside the
    selected bin), i.e. err_span_milli <= 1000/{HIST_BINS}/2 + 1.

    Three deliberate passes over events: a 1-row global bounds
    aggregate (broadcast back — one edge set shared by every partition is
    what makes the counts mergeable), the histogram build (map-side
    combining, output fixed at groups x {HIST_BINS} rows), and the
    exact rank-selection gate (the expensive per-type sort the sketch
    exists to replace at scale — kept as the acceptance oracle). All
    estimate arithmetic is IEEE basic ops, bit-identical across
    engines."""
    mid = (f"(b_vmin + (cast(qbin as double) + cast('0.5' as double)) "
           f"* (b_vmax - b_vmin) / cast({HIST_BINS} as double))")

    def rank(q: int) -> str:
        return f"{d.idiv(f'(n - 1) * {q}', '100')} + 1"

    def qsel(q: int, col: str) -> str:
        return f"max(CASE WHEN rn = {rank(q)} THEN {col} END)"

    return f"""WITH b AS (
  SELECT cast(min(value) as double) AS b_vmin,
    cast(max(value) as double) AS b_vmax
  FROM events WHERE value IS NOT NULL
),
h AS (
  SELECT event_type,
    CASE WHEN b_vmax = b_vmin THEN 0
         ELSE least(cast({HIST_BINS - 1} as bigint),
           cast(floor((cast(value as double) - b_vmin)
                * cast({HIST_BINS} as double) / (b_vmax - b_vmin))
                as bigint)) END AS bin,
    cast(count(*) as bigint) AS c
  FROM events CROSS JOIN b
  WHERE value IS NOT NULL
  GROUP BY 1, 2
),
cum AS (
  SELECT event_type, bin, c,
    sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cc,
    sum(c) OVER (PARTITION BY event_type) AS n
  FROM h
),
qb AS (
  SELECT event_type,
    cast(max(n) as bigint) AS n_events,
    min(CASE WHEN cc >= {rank(50)} THEN bin END) AS qbin50,
    min(CASE WHEN cc >= {rank(99)} THEN bin END) AS qbin99
  FROM cum GROUP BY event_type
),
ex AS (
  SELECT event_type, {qsel(50, 'value')} AS p50_exact,
    {qsel(99, 'value')} AS p99_exact
  FROM (
    SELECT event_type, value,
      row_number() OVER (PARTITION BY event_type
                         ORDER BY value, event_id) AS rn,
      count(*) OVER (PARTITION BY event_type) AS n
    FROM events WHERE value IS NOT NULL
  ) r GROUP BY event_type
)
SELECT event_type, n_events, p50_est, p50_exact, p99_est, p99_exact,
  CASE WHEN b_vmax = b_vmin THEN cast(0 as bigint)
       ELSE cast(floor(abs(p50_est - p50_exact) * cast(1000 as double)
            / (b_vmax - b_vmin)) as bigint) END AS err50_span_milli,
  CASE WHEN b_vmax = b_vmin THEN cast(0 as bigint)
       ELSE cast(floor(abs(p99_est - p99_exact) * cast(1000 as double)
            / (b_vmax - b_vmin)) as bigint) END AS err99_span_milli
FROM (
  SELECT qb.event_type, qb.n_events,
    {mid.replace('qbin', 'qb.qbin50')} AS p50_est,
    cast(ex.p50_exact as double) AS p50_exact,
    {mid.replace('qbin', 'qb.qbin99')} AS p99_est,
    cast(ex.p99_exact as double) AS p99_exact,
    b_vmin, b_vmax
  FROM qb
  JOIN ex ON ex.event_type = qb.event_type
  CROSS JOIN b
) q2"""


def docs_kmv_source_overlap(d: Dialect, esrc_view: str | None = None) -> str:
    """Source-pair resemblance audit via KMV/theta sketch
    INTERSECTION (Beyer et al. 2007's KMV set operations — the
    companion of docs_kmv_distinct_union's union/merge proof): for
    every pair of corpus sources, estimate how many distinct 3-gram
    shingles the two slices SHARE. This is the dataset-redundancy
    matrix a mixture designer reads before weighting sources — two
    slices with high shingle overlap are near-duplicate feeds, and at
    100 TB you cannot afford the exact pairwise intersection this
    query also computes as its own error column.

    Estimator, all exact integer arithmetic so both engines agree
    bit-for-bit: per source, the sketch is its {KMV_K} minimum shingle
    hashes; per pair, take the {KMV_K} smallest of the two sketches'
    union — ``h_k`` (the Kth minimum) gives the union estimate
    ``(K-1)*P/h_k`` (or the exact count while the union sketch is
    under-full), ``matches`` counts union-top-K values present in
    BOTH sketches, and ``est = matches * est_union / n_u`` scales the
    in-sketch overlap fraction to the union size (integer division;
    the acceptance column ``exact_shared_shingles`` is the truth).

    Scale posture (100 TB): the per-source sketches come from one
    source-partitioned top-K window over the DISTINCT (source, hv)
    relation — never a global sort; everything after ``sk`` is
    sketch-sized (sources x {KMV_K} rows) so the pair fan-out is
    sources-squared over {KMV_K}-row relations, independent of corpus
    size. The exact arm self-joins (source, hv) on hv — linear in the
    shingle vocabulary, quadratic only in the source count — and is
    the small-scale oracle column, not the product path. On Spark the
    (source, hv) relation is built from the session shingle plane
    (``esrc_view``); self-contained chain for the DuckDB oracle.

    ``esrc_view``: name of a PRE-MATERIALIZED distinct (source, hv)
    relation — the wired Spark path
    (:func:`docs_kmv_source_overlap_df`). The esrc CTE is referenced
    ~5x downstream (sketch build, source list, both sides of the
    exact arm) and ``AS MATERIALIZED`` is DuckDB-only, so under Spark
    CTE inlining the shingle-scan + documents-join + DISTINCT shuffle
    would re-run per reference."""
    from aws_trusted_advisor_explorer_spark.operators.dedup import _shingle_cte

    ca = d.cte_as()
    # the pair generator is an inequality join of two source-count-
    # sized relations (tens of rows: sources are corpus FEEDS, not
    # data); without a hint Catalyst has no stats on the derived
    # relation and plans a CartesianProduct — the broadcast hint pins
    # the small-by-construction BroadcastNestedLoopJoin instead
    # (allowlisted in tests/test_plan_audit.py). DuckDB parses the
    # hint as a plain comment.
    bhint = "/*+ BROADCAST(a) */ " if d.name == "spark" else ""
    kth = f"{KMV_K - 1} * cast({P_MOD} as bigint)"
    if esrc_view is not None:
        head = f"""WITH esrc AS (
  SELECT source, hv FROM {esrc_view}
),"""
    else:
        head = f"""{_shingle_cte(d)},
esrc {ca} (
  SELECT DISTINCT dd.source, s.hv
  FROM sh s JOIN documents dd ON dd.doc_id = s.doc_id
),"""
    return f"""{head}
ps AS (
  SELECT source, hv,
    row_number() OVER (PARTITION BY source ORDER BY hv) AS r
  FROM esrc
),
sk {ca} (SELECT source, hv FROM ps WHERE r <= {KMV_K}),
srcs {ca} (SELECT DISTINCT source FROM esrc),
pairs {ca} (
  SELECT {bhint}a.source AS s1, b.source AS s2
  FROM srcs a JOIN srcs b ON a.source < b.source
),
su AS (
  SELECT p.s1, p.s2, k.hv, 1 AS in1, 0 AS in2
  FROM pairs p JOIN sk k ON k.source = p.s1
  UNION ALL
  SELECT p.s1, p.s2, k.hv, 0 AS in1, 1 AS in2
  FROM pairs p JOIN sk k ON k.source = p.s2
),
u AS (
  SELECT s1, s2, hv, max(in1) AS in1, max(in2) AS in2
  FROM su GROUP BY s1, s2, hv
),
ur AS (
  SELECT s1, s2, hv, in1, in2,
    row_number() OVER (PARTITION BY s1, s2 ORDER BY hv) AS r
  FROM u
),
ag AS (
  SELECT s1, s2,
    cast(count(*) as bigint) AS n_u,
    cast(max(hv) as bigint) AS h_k,
    cast(sum(in1 * in2) as bigint) AS matches
  FROM ur WHERE r <= {KMV_K}
  GROUP BY s1, s2
),
ex {ca} (
  SELECT a.source AS s1, b.source AS s2,
    cast(count(*) as bigint) AS exact_inter
  FROM esrc a JOIN esrc b ON b.hv = a.hv AND b.source > a.source
  GROUP BY a.source, b.source
),
es AS (
  SELECT s1, s2, n_u, matches,
    CASE WHEN n_u < {KMV_K} THEN n_u
         ELSE {d.idiv(kth, 'h_k')} END AS est_union
  FROM ag
)
SELECT es.s1 AS source_a, es.s2 AS source_b,
  coalesce(ex.exact_inter, cast(0 as bigint)) AS exact_shared_shingles,
  es.matches AS sketch_matches,
  es.est_union AS est_union_shingles,
  {d.idiv('es.matches * es.est_union', 'es.n_u')} AS est_shared_shingles
FROM es LEFT JOIN ex ON ex.s1 = es.s1 AND ex.s2 = es.s2"""


KMV_ESRC_VIEW = "__kmv_esrc"


def docs_kmv_source_overlap_df(spark, base: str):
    """Wired Spark path of :func:`docs_kmv_source_overlap`: compute
    the distinct (source, hv) relation ONCE (lazy localCheckpoint —
    materialized inside this query's own execution, not a session
    plane, so the bench row still pays for it), then run the identical
    sketch/exact tail SQL over the materialized view. Same rows as the
    self-contained form (the tail SQL is the same builder text)."""
    from aws_trusted_advisor_explorer_spark.functions.dual import SPARK
    from aws_trusted_advisor_explorer_spark.operators.dedup import (
        _shingle_cte,
    )

    esrc = spark.sql(f"""{_shingle_cte(SPARK, base)}
SELECT DISTINCT dd.source, s.hv
FROM sh s JOIN documents dd ON dd.doc_id = s.doc_id""") \
        .localCheckpoint(eager=False)
    esrc.createOrReplaceTempView(KMV_ESRC_VIEW)
    return spark.sql(docs_kmv_source_overlap(SPARK, esrc_view=KMV_ESRC_VIEW))


BUILDERS = {
    "events_hll_distinct": events_hll_distinct,
    "events_hll_merge": events_hll_merge,
    "events_cms_heavy_hitters": events_cms_heavy_hitters,
    "events_hist_quantiles": events_hist_quantiles,
    # self-contained forms are the DuckDB oracle; the entry overrides
    # the Spark side to read the session-materialized dochash /
    # shingle planes
    "docs_kmv_distinct_union": docs_kmv_distinct_union,
    "docs_kmv_source_overlap": docs_kmv_source_overlap,
}
