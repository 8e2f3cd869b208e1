"""Classic TPC-H analytics over the lineitem/orders/customer/
supplier/nation/region tables — the general OLAP surface (multi-way
equi-joins, filtered aggregates, ranked reports) demonstrated on the
standard queries Q1/Q3/Q5, adapted to the driver fixture schema (no
o_shippriority column; money columns land as DOUBLE).

Cross-engine exactness: the fixture money columns are arbitrary
doubles, so a plain SUM's partial-aggregation order would make the
two engines (and two Spark runs) disagree in the last bits. Per-row
products are IEEE-deterministic (fixed op order), so every money term
is computed per row as a double, scaled to integer micros with
``round`` (half-away-from-zero in both engines), and summed as exact
bigints; ratios/averages divide the exact sums once at the end — the
same scaled-integer discipline as the KMeans trainer and the events
money sums. int64 headroom: ~1e12 micros/row x 6e5 rows at sf0.1 =
6e17 << 9.2e18. A sum past the int64 bound (TPC-H sf100+) raises
ARITHMETIC_OVERFLOW under ANSI mode, Spark's default, instead of
wrapping — pinned by test_tpch_money_sum_overflow_raises.

Scale posture (100 TB): pure declarative joins + aggregates — Catalyst
picks broadcast for the dimension sides (region/nation/customer at
these shapes), AQE handles skew; no windows except Q3's top-k, which
is an ORDER BY + LIMIT = distributed TakeOrdered.
"""

from __future__ import annotations

from aws_trusted_advisor_explorer_spark.functions.dual import Dialect

_US = 1_000_000  # money scale: micros


def _micros(expr: str) -> str:
    return f"cast(round(({expr}) * {_US}) as bigint)"


Q1_CUTOFF = "1998-09-02 00:00:00"


def tpch_q1(d: Dialect) -> str:
    """Q1 pricing summary report: per (returnflag, linestatus) sums,
    averages, and row counts over shipped-before-cutoff lineitems —
    one map-side-combining aggregate over a pushed-down scan filter."""
    return f"""WITH l AS (
  SELECT l_returnflag, l_linestatus,
    {_micros('l_quantity')} AS qty_us,
    {_micros('l_extendedprice')} AS price_us,
    {_micros('l_extendedprice * (1 - l_discount)')} AS disc_price_us,
    {_micros('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS charge_us,
    {_micros('l_discount')} AS disc_us
  FROM lineitem
  WHERE l_shipdate <= timestamp '{Q1_CUTOFF}'
)
SELECT l_returnflag, l_linestatus,
  cast(sum(qty_us) as double) / {_US} AS sum_qty,
  cast(sum(price_us) as double) / {_US} AS sum_base_price,
  cast(sum(disc_price_us) as double) / {_US} AS sum_disc_price,
  cast(sum(charge_us) as double) / {_US} AS sum_charge,
  cast(sum(qty_us) as double) / (count(*) * {_US}) AS avg_qty,
  cast(sum(price_us) as double) / (count(*) * {_US}) AS avg_price,
  cast(sum(disc_us) as double) / (count(*) * {_US}) AS avg_disc,
  cast(count(*) as bigint) AS count_order
FROM l
GROUP BY l_returnflag, l_linestatus"""


Q3_SEGMENT = "BUILDING"
Q3_DATE = "1996-06-01 00:00:00"
Q3_TOP = 10


def tpch_q3(d: Dialect) -> str:
    """Q3 shipping-priority report (adapted: fixture orders carry
    o_orderpriority, not o_shippriority): top-{Q3_TOP} unshipped
    orders of one segment by revenue. Join chain customer→orders→
    lineitem on keys; revenue is the exact scaled-integer sum, so the
    ranking (revenue DESC, orderkey) is deterministic; top-k is
    ORDER BY + LIMIT (TakeOrdered, no global sort)."""
    return f"""WITH r AS (
  SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
    {_micros('l.l_extendedprice * (1 - l.l_discount)')} AS rev_us
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  WHERE c.c_mktsegment = '{Q3_SEGMENT}'
    AND o.o_orderdate < timestamp '{Q3_DATE}'
    AND l.l_shipdate > timestamp '{Q3_DATE}'
)
SELECT l_orderkey,
  cast(sum(rev_us) as double) / {_US} AS revenue,
  o_orderdate, o_orderpriority
FROM r
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY sum(rev_us) DESC, l_orderkey
LIMIT {Q3_TOP}"""


Q5_REGION = "ASIA"
Q5_FROM = "1996-01-01 00:00:00"
Q5_TO = "1997-01-01 00:00:00"


def tpch_q5(d: Dialect) -> str:
    """Q5 local-supplier volume: revenue per nation where customer and
    supplier share the nation, one region, one order-year. Six-way
    equi-join; region/nation broadcast, the lineitem↔orders join rides
    the orderkey rail; output is nation-cardinality rows from one
    map-side-combining aggregate."""
    return f"""WITH r AS (
  SELECT n.n_name,
    {_micros('l.l_extendedprice * (1 - l.l_discount)')} AS rev_us
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
    AND s.s_nationkey = c.c_nationkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  JOIN region rg ON rg.r_regionkey = n.n_regionkey
  WHERE rg.r_name = '{Q5_REGION}'
    AND o.o_orderdate >= timestamp '{Q5_FROM}'
    AND o.o_orderdate < timestamp '{Q5_TO}'
)
SELECT n_name, cast(sum(rev_us) as double) / {_US} AS revenue,
  cast(count(*) as bigint) AS n_lineitems
FROM r
GROUP BY n_name"""


Q6_FROM = "1996-01-01 00:00:00"
Q6_TO = "1997-01-01 00:00:00"
Q6_DISC_LO, Q6_DISC_HI = 0.05, 0.07
Q6_QTY_MAX = 24


def tpch_q6(d: Dialect) -> str:
    """Q6 forecasting revenue change: one-row sum over a multi-predicate
    range filter — the canonical predicate-pushdown demonstration (every
    predicate reaches the parquet scan; the aggregate sees only
    qualifying rows). Exact micro sum as everywhere in this module."""
    return f"""SELECT
  cast(sum({_micros('l_extendedprice * l_discount')}) as bigint)
    AS revenue_us,
  cast(count(*) as bigint) AS n_lineitems
FROM lineitem
WHERE l_shipdate >= timestamp '{Q6_FROM}'
  AND l_shipdate < timestamp '{Q6_TO}'
  AND l_discount >= {Q6_DISC_LO} AND l_discount <= {Q6_DISC_HI}
  AND l_quantity < {Q6_QTY_MAX}"""


Q14_FROM = "1996-03-01 00:00:00"
Q14_TO = "1996-04-01 00:00:00"


def tpch_q14(d: Dialect) -> str:
    """Q14 promotion effect: share of one month's revenue from PROMO
    parts — a conditional aggregate over the lineitem↔part equi-join
    (part is the broadcast dim). Numerator and denominator are both
    exact micro sums; the percentage is one division at the end."""
    rev = _micros("l.l_extendedprice * (1 - l.l_discount)")
    return f"""WITH r AS (
  SELECT CASE WHEN p.p_type = 'PROMO' THEN {rev} ELSE cast(0 as bigint) END
      AS promo_us,
    {rev} AS rev_us
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE l.l_shipdate >= timestamp '{Q14_FROM}'
    AND l.l_shipdate < timestamp '{Q14_TO}'
)
SELECT
  cast(sum(promo_us) as bigint) AS promo_revenue_us,
  cast(sum(rev_us) as bigint) AS total_revenue_us,
  CASE WHEN sum(rev_us) = 0 THEN cast(NULL as double)
       ELSE cast(100 as double) * sum(promo_us) / sum(rev_us)
  END AS promo_revenue_pct
FROM r"""


Q18_QTY_MIN = 250   # large-volume threshold (fixture max order qty 458)
Q18_TOP = 20


def tpch_q18(d: Dialect) -> str:
    """Q18 large-volume customers: orders whose total quantity clears
    the threshold, with the customer attached — the aggregate-then-
    HAVING-then-join shape. The heavy groupBy runs on (l_orderkey)
    BEFORE joining customers/orders, so only qualifying orders (tiny
    by construction) reach the join; top-k by quantity is
    TakeOrdered."""
    return f"""WITH big AS (
  SELECT l_orderkey, {_micros('l_quantity')} AS q_us
  FROM lineitem
),
agg AS (
  SELECT l_orderkey, sum(q_us) AS sum_qty_us
  FROM big GROUP BY l_orderkey
  HAVING sum(q_us) > cast({Q18_QTY_MIN} as bigint) * {_US}
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
  cast(a.sum_qty_us as double) / {_US} AS total_qty
FROM agg a
JOIN orders o ON o.o_orderkey = a.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY a.sum_qty_us DESC, o.o_orderkey
LIMIT {Q18_TOP}"""


Q4_FROM = "1996-01-01 00:00:00"
Q4_TO = "1996-04-01 00:00:00"


def tpch_q4(d: Dialect) -> str:
    """Q4 order-priority checking: orders of one quarter with at least
    one late lineitem (commitdate proxy: shipdate after orderdate + 30
    days — the fixture carries no commit/receipt dates), counted per
    priority — the EXISTS/semi-join shape: the probe side reduces to
    DISTINCT orderkeys before the join, so each order joins once no
    matter how many late lines it has."""
    return f"""WITH late AS (
  SELECT DISTINCT l.l_orderkey
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    AND o.o_orderdate >= timestamp '{Q4_FROM}'
    AND o.o_orderdate < timestamp '{Q4_TO}'
)
SELECT o.o_orderpriority, cast(count(*) as bigint) AS order_count
FROM orders o JOIN late ON late.l_orderkey = o.o_orderkey
WHERE o.o_orderdate >= timestamp '{Q4_FROM}'
  AND o.o_orderdate < timestamp '{Q4_TO}'
GROUP BY o.o_orderpriority"""


Q10_FROM = "1996-01-01 00:00:00"
Q10_TO = "1996-04-01 00:00:00"
Q10_TOP = 20


def tpch_q10(d: Dialect) -> str:
    """Q10 returned-item reporting: the {Q10_TOP} customers who lost
    the most revenue to returns in one quarter, with their nation —
    the aggregate-heavy join+top-k report shape (customer×orders×
    lineitem filtered to returnflag='R', nation broadcast dim).
    Revenue is the exact micro sum, so the (revenue DESC, custkey)
    ranking is deterministic; top-k is TakeOrdered."""
    return f"""WITH r AS (
  SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name,
    {_micros('l.l_extendedprice * (1 - l.l_discount)')} AS rev_us
  FROM customer c
  JOIN orders o ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE o.o_orderdate >= timestamp '{Q10_FROM}'
    AND o.o_orderdate < timestamp '{Q10_TO}'
    AND l.l_returnflag = 'R'
)
SELECT c_custkey, c_name, n_name, c_acctbal,
  cast(sum(rev_us) as double) / {_US} AS revenue
FROM r
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY sum(rev_us) DESC, c_custkey
LIMIT {Q10_TOP}"""


Q17_BRAND = "Brand#1"
Q17_FRACTION_NUM, Q17_FRACTION_DEN = 1, 5  # "below 20% of the part's avg"


def tpch_q17(d: Dialect) -> str:
    """Q17 small-quantity-order revenue: average yearly revenue lost if
    tiny orders (quantity below {Q17_FRACTION_NUM}/{Q17_FRACTION_DEN}
    of that part's average order quantity) were not filled — the
    CORRELATED-scalar-aggregate shape, written DECORRELATED as a
    per-part WINDOW over the brand-filtered slice (sum/count OVER
    (PARTITION BY l_partkey)) — the repo's rewrite-as-window rule for
    group-subquery join-backs: the earlier groupBy + join-back
    evaluated the brand-filtered lineitem⋈part CTE twice under BOTH
    engines' CTE inlining, and the window partitions on l_partkey so
    nothing lands on a single partition. The threshold compare is
    exact integer cross-multiplication (qty*den*cnt < num*sum) — no
    division, no doubles in the predicate."""
    return f"""WITH pl AS (
  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice,
    {_micros('l_quantity')} AS qty_us
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_brand = '{Q17_BRAND}'
),
w AS (
  SELECT l_extendedprice, qty_us,
    cast(sum(qty_us) OVER (PARTITION BY l_partkey) as bigint)
      AS sum_qty_us,
    cast(count(*) OVER (PARTITION BY l_partkey) as bigint) AS cnt
  FROM pl
)
SELECT
  cast(count(*) as bigint) AS n_small_orders,
  cast(sum({_micros('l_extendedprice')}) as bigint) AS revenue_us
FROM w
WHERE qty_us * {Q17_FRACTION_DEN} * cnt
      < cast({Q17_FRACTION_NUM} as bigint) * sum_qty_us"""


Q2_SIZE = 15
Q2_REGION = "EUROPE"
Q2_TOP = 100


def tpch_q2(d: Dialect) -> str:
    """Q2 minimum-cost supplier (adapted: the fixture has no partsupp
    table, so the part-supplier catalog is DERIVED as the distinct
    (l_partkey, l_suppkey) pairs observed in lineitem, and s_acctbal
    stands in for ps_supplycost). For every size-{Q2_SIZE} part, the
    {Q2_REGION} supplier with the MINIMUM account balance — the
    correlated-min subquery shape, decorrelated as a per-part window
    min (ONE pass over the candidate relation — a groupBy + join-back
    would re-evaluate the lineitem-derived catalog per CTE reference
    under Spark's inlining). Balances
    compare as exact scaled integers, so the min and the tie set are
    cross-engine deterministic; ties keep ALL minimal suppliers like
    the spec query."""
    bal = _micros("s.s_acctbal")
    return f"""WITH ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
),
es AS (
  SELECT s.s_suppkey, s.s_name, n.n_name, {bal} AS bal_us
  FROM supplier s
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = '{Q2_REGION}'
),
cand AS (
  SELECT p.p_partkey, p.p_name, e.s_name, e.n_name, e.bal_us
  FROM part p
  JOIN ps ON ps.l_partkey = p.p_partkey
  JOIN es e ON e.s_suppkey = ps.l_suppkey
  WHERE p.p_size = {Q2_SIZE}
),
w AS (
  SELECT p_partkey, p_name, s_name, n_name, bal_us,
    min(bal_us) OVER (PARTITION BY p_partkey) AS mn_us
  FROM cand
)
SELECT p_partkey, p_name, s_name, n_name,
  cast(bal_us as double) / {_US} AS s_acctbal
FROM w WHERE bal_us = mn_us
ORDER BY bal_us DESC, p_partkey, s_name
LIMIT {Q2_TOP}"""


Q7_NATION_A = "NATION_1"
Q7_NATION_B = "NATION_2"
Q7_FROM = "1996-01-01 00:00:00"
Q7_TO = "1998-01-01 00:00:00"


def tpch_q7(d: Dialect) -> str:
    """Q7 volume shipping between two nations: revenue per
    (supplier nation, customer nation, ship year) for both directions
    of the {Q7_NATION_A}<->{Q7_NATION_B} trade lane over two ship
    years. The two nation dims broadcast; the fact-side join chain is
    the lineitem->orders->customer rail. Exact micro sums; year() is
    engine-identical on timestamps."""
    rev = _micros("l.l_extendedprice * (1 - l.l_discount)")
    return f"""WITH sn AS (
  SELECT s_suppkey, n_name AS supp_nation
  FROM supplier JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name IN ('{Q7_NATION_A}', '{Q7_NATION_B}')
),
cn AS (
  SELECT c_custkey, n_name AS cust_nation
  FROM customer JOIN nation ON n_nationkey = c_nationkey
  WHERE n_name IN ('{Q7_NATION_A}', '{Q7_NATION_B}')
),
r AS (
  SELECT sn.supp_nation, cn.cust_nation,
    cast(year(l.l_shipdate) as bigint) AS l_year, {rev} AS rev_us
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN sn ON sn.s_suppkey = l.l_suppkey
  JOIN cn ON cn.c_custkey = o.o_custkey
  WHERE sn.supp_nation <> cn.cust_nation
    AND l.l_shipdate >= timestamp '{Q7_FROM}'
    AND l.l_shipdate < timestamp '{Q7_TO}'
)
SELECT supp_nation, cust_nation, l_year,
  cast(sum(rev_us) as double) / {_US} AS revenue,
  cast(count(*) as bigint) AS n_lineitems
FROM r GROUP BY supp_nation, cust_nation, l_year"""


Q8_REGION = "EUROPE"
Q8_NATION = "NATION_3"
Q8_TYPE = "ECONOMY"
Q8_FROM = "1996-01-01 00:00:00"
Q8_TO = "1998-01-01 00:00:00"


def tpch_q8(d: Dialect) -> str:
    """Q8 national market share: {Q8_NATION}'s share of {Q8_REGION}
    {Q8_TYPE}-part revenue per order year — the conditional-ratio
    aggregate. Numerator and denominator are exact micro sums of the
    SAME rows (the share is one guarded division), so the percentage
    is cross-engine exact."""
    rev = _micros("l.l_extendedprice * (1 - l.l_discount)")
    return f"""WITH r AS (
  SELECT cast(year(o.o_orderdate) as bigint) AS o_year,
    CASE WHEN sn.n_name = '{Q8_NATION}' THEN {rev}
         ELSE cast(0 as bigint) END AS nation_us,
    {rev} AS rev_us
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn ON cn.n_nationkey = c.c_nationkey
  JOIN region rg ON rg.r_regionkey = cn.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
  WHERE rg.r_name = '{Q8_REGION}' AND p.p_type = '{Q8_TYPE}'
    AND o.o_orderdate >= timestamp '{Q8_FROM}'
    AND o.o_orderdate < timestamp '{Q8_TO}'
)
SELECT o_year,
  CASE WHEN sum(rev_us) = 0 THEN cast(NULL as double)
       ELSE cast(sum(nation_us) as double) / sum(rev_us) END AS mkt_share,
  cast(sum(rev_us) as double) / {_US} AS total_revenue
FROM r GROUP BY o_year"""


Q9_PART_LIKE = "%bolt%"
Q9_COST_FRAC = "cast(0.8 as double)"  # supply-cost proxy of retail price


def tpch_q9(d: Dialect) -> str:
    """Q9 product-type profit (adapted: no partsupp, so supply cost is
    proxied as 80% of p_retailprice — the profit SHAPE, per-row
    deterministic): profit per (supplier nation, order year) over
    parts matching '{Q9_PART_LIKE}'. Per-row profit is one IEEE
    expression scaled to micros; sums are exact and may be negative."""
    profit = _micros(
        "l.l_extendedprice * (1 - l.l_discount) "
        f"- l.l_quantity * p.p_retailprice * {Q9_COST_FRAC}")
    return f"""WITH r AS (
  SELECT sn.n_name AS nation,
    cast(year(o.o_orderdate) as bigint) AS o_year,
    {profit} AS profit_us
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn ON sn.n_nationkey = s.s_nationkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE p.p_name LIKE '{Q9_PART_LIKE}'
)
SELECT nation, o_year,
  cast(sum(profit_us) as double) / {_US} AS sum_profit,
  cast(count(*) as bigint) AS n_lineitems
FROM r GROUP BY nation, o_year"""


Q11_NATION = "NATION_3"
Q11_MEAN_MULT = 2  # keep parts holding > this x the mean part value


def tpch_q11(d: Dialect) -> str:
    """Q11 important stock (adapted: stock value is the shipped
    quantity x retail price observed in lineitem for suppliers of one
    nation, standing in for ps_availqty x ps_supplycost): parts whose
    value exceeds {Q11_MEAN_MULT}x the MEAN part value for the nation
    — the global-total scalar subquery shape, the tpch_q22 pattern:
    a one-row (total, count) stats relation cross-joined back into the
    part rows. The part-cardinality relation GROWS with SF (200k x SF
    parts), so the earlier unpartitioned-window form was a
    single-partition sort at scale; the cross join keeps every pass
    distributed at the cost of the value CTE evaluating twice under
    Spark inlining — and the second evaluation re-aggregates from the
    SAME l_partkey shuffle, which Spark's exchange reuse serves from
    the first pass (DuckDB materializes the CTE via cte_as). The
    mean-relative threshold is scale-free
    (the spec's fixed 0.0001/SF fraction would empty out or flood as
    SF moves); the compare is integer cross-multiplication, no
    division."""
    val = _micros("l.l_quantity * p.p_retailprice")
    ca = d.cte_as()
    return f"""WITH v {ca} (
  SELECT l.l_partkey AS p_partkey, sum({val}) AS value_us
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = '{Q11_NATION}'
  GROUP BY l.l_partkey
),
tot {ca} (
  SELECT sum(value_us) AS total_us, count(*) AS np FROM v
)
SELECT v.p_partkey, cast(v.value_us as double) / {_US} AS value
FROM v CROSS JOIN tot t
WHERE v.value_us * t.np > {Q11_MEAN_MULT} * t.total_us"""


Q12_LATE_DAYS = 30
_DAY_US = 86_400_000_000


def tpch_q12(d: Dialect) -> str:
    """Q12 shipping-lag audit (adapted: no shipmode/commit/receipt
    dates, so lineitems bucket by order->ship lag months, capped at
    2+): per lag bucket, how many lineitems belong to high-priority
    (1-URGENT / 2-HIGH) vs lower-priority orders — the CASE-sum
    pivot aggregate. Lag arithmetic is integer microseconds. The
    bucket is CLAMPED to [0, 2]: the fixture contains ship-before-
    order lineitems (negative gaps down to thousands of days), and
    without the floor they fanned out into dozens of meaningless
    negative buckets instead of the documented 0/1/2+ domain."""
    gap_days = d.idiv(
        f"({d.epoch_us('l.l_shipdate')} - {d.epoch_us('o.o_orderdate')})",
        str(_DAY_US))
    bucket = (f"greatest(cast(0 as bigint), "
              f"least({d.idiv(gap_days, str(Q12_LATE_DAYS))}, "
              f"cast(2 as bigint)))")
    return f"""SELECT
  cast({bucket} as bigint) AS lag_bucket,
  cast(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END) as bigint) AS high_line_count,
  cast(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 0 ELSE 1 END) as bigint) AS low_line_count
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY {bucket}"""


Q13_EXCLUDE_PRIO = "4-NOT SPECIFIED"


def tpch_q13(d: Dialect) -> str:
    """Q13 customer order-count distribution: orders per customer
    (LEFT join so zero-order customers stay, with the priority filter
    in the JOIN condition — filtering in WHERE would silently drop
    them, the classic Q13 trap), then the histogram of those counts."""
    return f"""WITH cc AS (
  SELECT c.c_custkey, cast(count(o.o_orderkey) as bigint) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    AND o.o_orderpriority <> '{Q13_EXCLUDE_PRIO}'
  GROUP BY c.c_custkey
)
SELECT c_count, cast(count(*) as bigint) AS custdist
FROM cc GROUP BY c_count"""


Q15_FROM = "1996-01-01 00:00:00"
Q15_TO = "1996-04-01 00:00:00"


def tpch_q15(d: Dialect) -> str:
    """Q15 top supplier: suppliers whose one-quarter revenue equals
    the maximum over all suppliers — the scalar-max subquery shape,
    the tpch_q22 pattern: a one-row max relation cross-joined back
    into the supplier-revenue rows. The revenue relation grows with SF
    (10k x SF suppliers), so the earlier unpartitioned-window form was
    a single-partition sort at scale; the cross join keeps every pass
    distributed — the max re-aggregates from the SAME l_suppkey
    shuffle under Spark inlining (exchange reuse), and DuckDB
    materializes the CTE. Exact micro revenue makes the max and its
    tie set deterministic, and ties keep ALL top suppliers like the
    spec query."""
    rev = _micros("l_extendedprice * (1 - l_discount)")
    ca = d.cte_as()
    return f"""WITH sr {ca} (
  SELECT l_suppkey, sum({rev}) AS rev_us
  FROM lineitem
  WHERE l_shipdate >= timestamp '{Q15_FROM}'
    AND l_shipdate < timestamp '{Q15_TO}'
  GROUP BY l_suppkey
),
mx {ca} (
  SELECT max(rev_us) AS mx_us FROM sr
)
SELECT s.s_suppkey, s.s_name,
  cast(sr.rev_us as double) / {_US} AS total_revenue
FROM sr CROSS JOIN mx
JOIN supplier s ON s.s_suppkey = sr.l_suppkey
WHERE sr.rev_us = mx.mx_us"""


Q16_EXCL_BRAND = "Brand#15"
Q16_EXCL_TYPE = "PROMO"
Q16_SIZES = (1, 5, 9, 13, 17, 21, 25, 29)


def tpch_q16(d: Dialect) -> str:
    """Q16 parts/supplier relationship (adapted: the part-supplier
    catalog is the distinct lineitem pair set; the
    customer-complaint supplier exclusion stands in as negative
    account balance): distinct supplier count per (brand, type, size)
    outside one brand/type, over {len(Q16_SIZES)} sizes."""
    sizes = ", ".join(str(x) for x in Q16_SIZES)
    return f"""WITH ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
),
ok AS (
  SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0
)
SELECT p.p_brand, p.p_type, cast(p.p_size as bigint) AS p_size,
  cast(count(DISTINCT ps.l_suppkey) as bigint) AS supplier_cnt
FROM ps
JOIN ok ON ok.s_suppkey = ps.l_suppkey
JOIN part p ON p.p_partkey = ps.l_partkey
WHERE p.p_brand <> '{Q16_EXCL_BRAND}'
  AND p.p_type <> '{Q16_EXCL_TYPE}'
  AND p.p_size IN ({sizes})
GROUP BY p.p_brand, p.p_type, p.p_size"""


Q19_ARMS = (("Brand#11", 1, 5, 1, 11),
            ("Brand#12", 1, 10, 10, 20),
            ("Brand#13", 1, 15, 20, 30))


def tpch_q19(d: Dialect) -> str:
    """Q19 discounted revenue under DISJUNCTIVE predicates (adapted to
    the fixture's brand/size/quantity columns): three OR-ed
    brand x size-range x quantity-range arms over the lineitem-part
    join — the disjunction-pushdown shape (each arm's part predicates
    prune the broadcast dim; the OR of ANDs stays in the join
    filter)."""
    rev = _micros("l.l_extendedprice * (1 - l.l_discount)")
    arms = "\n   OR ".join(
        f"(p.p_brand = '{b}' AND p.p_size BETWEEN {slo} AND {shi} "
        f"AND l.l_quantity >= {qlo} AND l.l_quantity <= {qhi})"
        for b, slo, shi, qlo, qhi in Q19_ARMS)
    return f"""SELECT
  cast(sum({rev}) as double) / {_US} AS revenue,
  cast(count(*) as bigint) AS n_lineitems
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE {arms}"""


Q20_NATION = "NATION_2"
Q20_PART_LIKE = "cold%"
Q20_SHARE_NUM, Q20_SHARE_DEN = 3, 10   # dominant: > 30% of part volume
Q20_FROM = "1996-01-01 00:00:00"
Q20_TO = "1997-01-01 00:00:00"


def tpch_q20(d: Dialect) -> str:
    """Q20 potential part promotion (adapted: without ps_availqty the
    'excess stock' test becomes a DOMINANT-SUPPLIER test — pairs whose
    one-year shipped quantity exceeds {Q20_SHARE_NUM}/{Q20_SHARE_DEN}
    of the part's total): suppliers of one nation dominating at least
    one '{Q20_PART_LIKE}' part — the nested semi-join chain, written
    as ONE aggregate + a per-part window total (a separate part-total
    CTE joined back would re-run the lineitem aggregate per reference
    under Spark inlining). Quantity compares are integer
    cross-multiplications of exact micro sums."""
    qty = _micros("l.l_quantity")
    return f"""WITH pq AS (
  SELECT l.l_partkey, l.l_suppkey, sum({qty}) AS pair_qty_us
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_name LIKE '{Q20_PART_LIKE}'
    AND l.l_shipdate >= timestamp '{Q20_FROM}'
    AND l.l_shipdate < timestamp '{Q20_TO}'
  GROUP BY l.l_partkey, l.l_suppkey
),
w AS (
  SELECT l_partkey, l_suppkey, pair_qty_us,
    sum(pair_qty_us) OVER (PARTITION BY l_partkey) AS part_qty_us
  FROM pq
),
dom AS (
  SELECT DISTINCT l_suppkey
  FROM w
  WHERE pair_qty_us * {Q20_SHARE_DEN} > part_qty_us * {Q20_SHARE_NUM}
)
SELECT s.s_name, n.n_name
FROM dom
JOIN supplier s ON s.s_suppkey = dom.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE n.n_name = '{Q20_NATION}'"""


Q21_TOP = 20


def tpch_q21(d: Dialect) -> str:
    """Q21 suppliers who kept orders waiting (adapted: 'late' is the
    Q4 proxy, shipdate > orderdate + {Q12_LATE_DAYS} days): per
    finished multi-supplier order, the supplier who was the ONLY late
    one — the EXISTS / NOT-EXISTS pair, decorrelated into per-order
    supplier/late-supplier counts via a WINDOW over the per-pair
    aggregate (one pass, and the window shuffle key equals the
    aggregate's grouping prefix so no extra exchange; a count CTE
    joined back would re-run the lineitem-orders join per reference
    under Spark inlining). Top {Q21_TOP} by wait count, deterministic
    (numwait DESC, s_name) tiebreak."""
    return f"""WITH ol AS (
  SELECT l.l_orderkey, l.l_suppkey,
    max(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL {Q12_LATE_DAYS} DAY
        THEN 1 ELSE 0 END) AS is_late
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'
  GROUP BY l.l_orderkey, l.l_suppkey
),
w AS (
  SELECT l_orderkey, l_suppkey, is_late,
    count(*) OVER (PARTITION BY l_orderkey) AS n_supp,
    sum(is_late) OVER (PARTITION BY l_orderkey) AS n_late
  FROM ol
)
SELECT s.s_name, cast(count(*) as bigint) AS numwait
FROM w
JOIN supplier s ON s.s_suppkey = w.l_suppkey
WHERE w.is_late = 1 AND w.n_supp > 1 AND w.n_late = 1
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT {Q21_TOP}"""


Q22_NATIONKEYS = (1, 3, 5, 7, 9, 11, 13)
Q22_CUTOFF = "1999-01-01 00:00:00"


def tpch_q22(d: Dialect) -> str:
    """Q22 global sales opportunity (adapted: the phone country code
    becomes c_nationkey over {len(Q22_NATIONKEYS)} nation keys; 'no
    recent orders' = no orders on/after {Q22_CUTOFF}): per country,
    count and total balance of above-average-balance customers who
    stopped ordering — the anti-join + scalar-average shape. The
    average compare is integer cross-multiplication of exact micro
    sums (no division in the predicate)."""
    keys = ", ".join(str(k) for k in Q22_NATIONKEYS)
    bal = _micros("c_acctbal")
    return f"""WITH pool AS (
  SELECT c_custkey, cast(c_nationkey as bigint) AS cntry, {bal} AS bal_us
  FROM customer
  WHERE c_nationkey IN ({keys})
),
avgp AS (
  SELECT sum(bal_us) AS sum_us, count(*) AS cnt
  FROM pool WHERE bal_us > 0
),
recent AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= timestamp '{Q22_CUTOFF}'
)
SELECT p.cntry,
  cast(count(*) as bigint) AS numcust,
  cast(sum(p.bal_us) as double) / {_US} AS totacctbal
FROM pool p
CROSS JOIN avgp a
LEFT JOIN recent r ON r.o_custkey = p.c_custkey
WHERE r.o_custkey IS NULL AND p.bal_us * a.cnt > a.sum_us
GROUP BY p.cntry"""


BUILDERS = {
    "tpch_q1": tpch_q1,
    "tpch_q2": tpch_q2,
    "tpch_q3": tpch_q3,
    "tpch_q4": tpch_q4,
    "tpch_q5": tpch_q5,
    "tpch_q6": tpch_q6,
    "tpch_q7": tpch_q7,
    "tpch_q8": tpch_q8,
    "tpch_q9": tpch_q9,
    "tpch_q10": tpch_q10,
    "tpch_q11": tpch_q11,
    "tpch_q12": tpch_q12,
    "tpch_q13": tpch_q13,
    "tpch_q15": tpch_q15,
    "tpch_q16": tpch_q16,
    "tpch_q19": tpch_q19,
    "tpch_q20": tpch_q20,
    "tpch_q21": tpch_q21,
    "tpch_q22": tpch_q22,
    "tpch_q14": tpch_q14,
    "tpch_q17": tpch_q17,
    "tpch_q18": tpch_q18,
}
