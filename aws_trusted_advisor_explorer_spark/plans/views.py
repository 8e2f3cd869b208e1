"""The reference's 10 Athena views, each defined once as SQL text
rendered for Spark (the published view) and DuckDB (its oracle).

Each view is ``SELECT fact.*, <typed computed cols> [, tag cols] FROM
fact [LEFT JOIN tags ON (join_key = resourceid AND datetime = datetime)]``
— a typed projection with an optional as-of-run snapshot join
(/root/reference/source/create-athena-views-lambda.py:84-160). No
GROUP BY / windows / sorts exist in the reference view layer. A
:class:`ViewSpec` is data: the fact, the join key, and per computed
column an alias plus a renderer ``(Dialect, column_ref) -> str``;
:func:`view_sql` renders the whole statement from it.

The renderers reproduce the Presto scalar semantics (SURVEY.md §2.5) in
SQL both engines accept; only the identifier quoting and the timestamp
parse differ by dialect (``Dialect.ident``, ``Dialect.ts_ymd_hms``):

| ref | Presto construct                      | renderer                   |
|-----|---------------------------------------|----------------------------|
| F1  | date_parse(s, '%Y-%m-%d %T')          | _dt, _iso_ts               |
| F2  | substr(s, pos[, len])                 | substr (same 1-based)      |
| F3  | replace(s, search) 2-arg = delete     | replace(s, search, '')     |
| F4  | rtrim(s)                              | rtrim                      |
| F5  | CAST(x AS decimal(p,s))               | _money, _money_rds, _pct   |
| F8  | replace(CAST(x AS varchar),'0','1')   | _zero_guard                |

CAST policy: Presto CAST throws on malformed input, and so does the
Spark these views run under — ANSI mode is ON by default in Spark 4
and this repo's session never disables it (``cast('$bad' as
decimal(10,2))`` raises CAST_INVALID_INPUT). That throw-on-malformed
behavior is the FAITHFUL reproduction of the reference's Athena
semantics, not a divergence: a dirty cell fails the view query in both
systems. A deployment preferring land-NULL-and-continue would swap
these casts for ``try_cast`` — a deliberate loosening vs the
reference, so it is not the default.

Physical plan at scale: the fixture derivation is narrow, so each view
compiles to a single whole-stage-codegen parquet scan; the tags
dimension is broadcast (it is small relative to facts — in the
reference Athena would pick the same strategy). Both view shapes exist:
with the tag join and the degraded no-tags form (the reference splices
the join only when InterestedTagKeys is set AND the tags table exists —
create-athena-views-lambda.py:91-93).

``EC2ReservedInstancesOptimization_view`` is defined by the reference
but absent from its executed list (:153-162) — we register it and flag
the provenance here.

Oracle note: decimal outputs are cast to DOUBLE at the query boundary
in BOTH engines (Spark renders decimal(10,4) as '12.3400', DuckDB's
pandas path as float — the cast makes the value-hash comparable while
the internal computation stays decimal, faithful to the reference).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from aws_trusted_advisor_explorer_spark.functions.dual import DUCK, SPARK, Dialect
from aws_trusted_advisor_explorer_spark.plans import fixtures

TAG_KEYS = ("env", "costcenter")  # InterestedTagKeys fixture configuration

# (dialect, column_ref) -> SQL expression; column_ref maps a raw fact
# column name to its quoted, qualified reference
Render = Callable[[Dialect, Callable[[str], str]], str]


class Computed(NamedTuple):
    alias: str
    render: Render
    decimal: bool = False  # DECIMAL result: DOUBLE at the query boundary


@dataclass(frozen=True)
class ViewSpec:
    name: str
    fact: str
    join_key: str | None  # fact column equi-joined to tags.resourceid
    computed: tuple[Computed, ...]


def _dt() -> Computed:
    """F1: ``date_parse(substr(datetime, 1, 19), '%Y-%m-%d %T')`` as
    ``date_time``."""
    return Computed("date_time", lambda d, ref: d.ts_ymd_hms(
        f"substr({ref('datetime')}, 1, 19)"))


def _money(alias: str, col: str, p: int = 18, s: int = 2) -> Computed:
    """``'$123.45  '`` → decimal (create-athena-views-lambda.py:90): the
    substr(2) drops the leading '$', the 2-arg replace catches any
    further '$'."""
    return Computed(alias, lambda d, ref: (
        f"CAST(rtrim(replace(substr({ref(col)}, 2), '$', '')) AS decimal({p},{s}))"), True)


def _money_rds(alias: str, col: str) -> Computed:
    """RDS form (:116): double 2-arg replace, '$' then '"'; no substr."""
    return Computed(alias, lambda d, ref: (
        f"CAST(rtrim(replace(replace({ref(col)}, '$', ''), '\"', '')) AS decimal(10,2))"), True)


def _pct(alias: str, col: str, n: int) -> Computed:
    """Positional truncation of percent-ish strings ('2.3%  Low' → 2.3),
    create-athena-views:88-89."""
    return Computed(alias, lambda d, ref: (
        f"CAST(substr({ref(col)}, 1, {n}) AS decimal(10,4))"), True)


def _iso_ts(alias: str, col: str) -> Computed:
    """ISO-8601 expiration date: 'T' → ' ', then F1 (create-athena-views:133)."""
    return Computed(alias, lambda d, ref: d.ts_ymd_hms(
        f"substr(replace({ref(col)}, 'T', ' '), 1, 19)"))


def _zero_guard(col: str) -> Render:
    """The summary_view divide-by-zero guard quirk, reproduced bit-for-bit:
    ``CAST(replace(CAST(x AS varchar), '0', '1') AS decimal(10,2))``
    (create-athena-views-lambda.py:147-148) replaces EVERY '0' digit, so
    0→1, 10→11, 100→111, 200→211. Mathematically wrong but required for
    oracle parity with the reference."""
    return lambda d, ref: f"CAST(replace({d.str_cast(ref(col))}, '0', '1') AS decimal(10,2))"


def _summary_pct(alias: str, ignored: bool) -> Computed:
    """``(1 - (flagged [- (ignored + suppressed)]) / guard(processed)) * 100``
    in DOUBLE over decimal(10,2) counts (create-athena-views:147-148)."""
    def render(d: Dialect, ref: Callable[[str], str]) -> str:
        def n(col):
            return f"CAST(CAST({ref(col)} AS decimal(10,2)) AS double)"
        num = n("resourcesflagged")
        if ignored:
            num = f"({num} - ({n('resourcesignored')} + {n('resourcessuppressed')}))"
        guard = _zero_guard("resourcesprocessed")(d, ref)
        return f"(1 - ({num} / CAST({guard} AS double))) * 100"
    return Computed(alias, render)


VIEWS: dict[str, ViewSpec] = {v.name: v for v in (
    ViewSpec("LowUtilizationAmazonEC2Instances_view", "check_qch7dwoux1", "instance id", (
        _dt(),
        _pct("average_cpu_utilization_14_days", "14-day average cpu utilization", 3),
        # alias literally contains '/' and a space (create-athena-views:89)
        _pct("average_network_i/o_utilization_14 days", "14-day average network i/o", 4),
        _money("estimated_monthly_savings", "estimated monthly savings"))),
    ViewSpec("UnderutilizedAmazonEBSVolumes_view", "check_davu99dc4c", "volume id", (
        _dt(),
        _money("Monthly_Storage_Cost", "monthly storage cost"))),
    ViewSpec("IdleLoadBalancers_view", "check_hjlmh88um8", "load balancer name", (
        _dt(),
        _money("estimated_monthly_savings", "estimated monthly savings"))),
    ViewSpec("AmazonRDSIdleDBInstances_view", "check_ti39halfu8", "db instance name", (
        _dt(),
        _money_rds("estimated_monthly_savings", "estimated monthly savings on demand"))),
    ViewSpec("UnderutilizedAmazonRedshiftClusters_view", "check_g31sq1e9u", "cluster",
             (_dt(),)),
    ViewSpec("EC2ReservedInstanceLeaseExpiration_view", "check_1e93e4c0b5", None, (
        _dt(),
        _money("current_monthly_cost", "current monthly cost"),
        _money("estimated_monthly_savings", "estimated monthly savings"),
        _iso_ts("expiration_date", "expiration date"))),
    ViewSpec("Route53LatencyResourceRecordSets_view", "check_51fc20e7i2", "hosted zone name",
             (_dt(),)),
    ViewSpec("summary_view", "summary", None, (
        _dt(),
        _summary_pct("optimizationPercent", ignored=False),
        _summary_pct("trueoptimizationPercent", ignored=True))),
    ViewSpec("UnassociatedElasticIPAddresses_view", "check_z4aubrnsmz", None, (_dt(),)),
    # defined by the reference but absent from its executed list (:153-162)
    ViewSpec("EC2ReservedInstancesOptimization_view", "check_cx3c2r1chu", None, (
        _dt(),
        _money("estimated_savings_with_recommendation_monthly",
               "estimated savings with recommendation monthly"),
        _money("upfront_cost_of_ris", "upfront cost of ris"),
        _money("estimated_cost_of_ris_monthly", "estimated cost of ris monthly"),
        _money("estimated_on-demand_cost_post_recommended_ri_purchase_monthly",
               "estimated on-demand cost post recommended ri purchase monthly"))),
)}


def view_sql(d: Dialect, name: str, with_tags: bool, boundary_double: bool) -> str:
    """The view's ``SELECT`` in dialect ``d``; the tags join only when
    ``with_tags`` and the view has a join key. ``boundary_double`` casts
    the decimal computed columns to DOUBLE (the oracle boundary)."""
    spec = VIEWS[name]
    fact, tags = d.ident(spec.fact), d.ident("tags")

    def ref(col: str) -> str:
        return f"{fact}.{d.ident(col)}"

    cols = [f"{fact}.*"]
    for c in spec.computed:
        expr = c.render(d, ref)
        if boundary_double and c.decimal:
            expr = f"CAST({expr} AS double)"
        cols.append(f"{expr} AS {d.ident(c.alias)}")
    frm = f"FROM {fact}"
    if with_tags and spec.join_key is not None:
        cols += [f"{tags}.{d.ident(k)}" for k in TAG_KEYS]
        frm += (f" LEFT JOIN {tags} ON ({ref(spec.join_key)} = {tags}.{d.ident('resourceid')}"
                f" AND {ref('datetime')} = {tags}.{d.ident('datetime')})")
    return "SELECT " + ",\n  ".join(cols) + "\n" + frm


def view_df(spark: SparkSession, name: str, with_tags: bool | None = None,
            boundary_double: bool = True) -> DataFrame:
    """The view as a DataFrame over the registered raw tables.

    ``with_tags=None`` resolves like the reference: join iff the view has
    a join key and the ``tags`` table exists in the catalog
    (create-athena-views-lambda.py:57-72,91-93).

    Scale posture: AQE picks the physical join — broadcast
    hash when the tags dimension fits the session's 64MB threshold
    (session.tune_session; the sf0.1 tags table is ~11MB -> broadcast,
    measured 2-5x over sort-merge), sort-merge with skew handling when
    the dimension outgrows it.
    """
    if with_tags is None:
        with_tags = (VIEWS[name].join_key is not None
                     and spark.catalog.tableExists("tags"))
    return spark.sql(view_sql(SPARK, name, with_tags, boundary_double))


def view_oracle_sql(name: str, with_tags: bool | None = None) -> str:
    """Equivalent DuckDB SQL (fixture CTEs + the view body), decimal→double.
    ``with_tags=None`` joins whenever the view has a join key (the
    fixtures always hold ``tags``)."""
    spec = VIEWS[name]
    join = (with_tags is not False) and spec.join_key is not None
    ctes = fixtures.duckdb_ctes([spec.fact] + (["tags"] if join else []))
    return f"WITH {ctes}\n" + view_sql(DUCK, name, join, boundary_double=True)


def register_views(spark: SparkSession,
                   with_tags: bool | None = None) -> list[str]:
    """Publish every view into the session catalog (the reference's K4
    Athena-DDL sink becomes createOrReplaceTempView). Views whose fact
    table was never ingested are skipped (the reference's crawler would
    not have created the table either). Existence is a catalog lookup,
    and ``with_tags=None`` is resolved once for all views. Each view is
    published as a Dataset (analysed once, here), so a later
    re-registration of its fact does not change it."""
    if with_tags is None:
        with_tags = spark.catalog.tableExists("tags")
    published = []
    for name, spec in VIEWS.items():
        if not spark.catalog.tableExists(spec.fact):
            continue
        view_df(spark, name, with_tags=with_tags, boundary_double=False) \
            .createOrReplaceTempView(name)
        published.append(name)
    return published
