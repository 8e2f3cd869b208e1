"""The reference's 10 Athena views as Spark DataFrame plans + DuckDB oracles.

Each view is ``SELECT fact.*, <typed computed cols> [, tag cols] FROM
fact [LEFT JOIN tags ON (join_key = resourceid AND datetime = datetime)]``
— a typed projection with an optional as-of-run snapshot join
(/root/reference/source/create-athena-views-lambda.py:84-160). No
GROUP BY / windows / sorts exist in the reference view layer.

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

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import DecimalType

from aws_trusted_advisor_explorer_spark.functions import presto_compat as pc
from aws_trusted_advisor_explorer_spark.plans import fixtures

TAG_KEYS = ("env", "costcenter")  # InterestedTagKeys fixture configuration

# DuckDB-dialect snippets mirroring functions/presto_compat.py
_D_DT = "strptime(substr(\"{t}\".\"datetime\", 1, 19), '%Y-%m-%d %H:%M:%S')"


def _d_money(t: str, col: str, p: int = 18, s: int = 2) -> str:
    return (f'CAST(CAST(rtrim(replace(substr("{t}"."{col}", 2), \'$\', \'\')) '
            f"AS decimal({p},{s})) AS double)")


def _d_money_rds(t: str, col: str) -> str:
    return (f'CAST(CAST(rtrim(replace(replace("{t}"."{col}", \'$\', \'\'), \'"\', \'\')) '
            f"AS decimal(10,2)) AS double)")


def _d_pct(t: str, col: str, n: int) -> str:
    return f'CAST(CAST(substr("{t}"."{col}", 1, {n}) AS decimal(10,4)) AS double)'


@dataclass
class ViewSpec:
    name: str
    fact: str
    join_key: str | None  # fact column equi-joined to tags.resourceid
    executed: bool = True  # False: defined but not registered by the reference
    # (alias, spark builder fact_df -> Column, duckdb SQL expr)
    computed: list[tuple[str, Callable[[DataFrame], Column], str]] = field(default_factory=list)


def _dt(alias: str, fact: str):
    return (alias, lambda f: pc.date_parse_ymd_hms(f["datetime"]), _D_DT.format(t=fact))


def _money(alias: str, fact: str, col: str, p: int = 18, s: int = 2):
    return (alias,
            lambda f: pc.money_to_decimal(f[col], p, s),
            _d_money(fact, col, p, s))


def _specs() -> dict[str, ViewSpec]:
    v: dict[str, ViewSpec] = {}

    fact = "check_qch7dwoux1"
    v["LowUtilizationAmazonEC2Instances_view"] = ViewSpec(
        "LowUtilizationAmazonEC2Instances_view", fact, "instance id",
        computed=[
            _dt("date_time", fact),
            ("average_cpu_utilization_14_days",
             lambda f: pc.pct_substr_decimal(f["14-day average cpu utilization"], 3),
             _d_pct(fact, "14-day average cpu utilization", 3)),
            # alias literally contains '/' and a space (create-athena-views:89)
            ("average_network_i/o_utilization_14 days",
             lambda f: pc.pct_substr_decimal(f["14-day average network i/o"], 4),
             _d_pct(fact, "14-day average network i/o", 4)),
            _money("estimated_monthly_savings", fact, "estimated monthly savings"),
        ])

    fact = "check_davu99dc4c"
    v["UnderutilizedAmazonEBSVolumes_view"] = ViewSpec(
        "UnderutilizedAmazonEBSVolumes_view", fact, "volume id",
        computed=[
            _dt("date_time", fact),
            _money("Monthly_Storage_Cost", fact, "monthly storage cost"),
        ])

    fact = "check_hjlmh88um8"
    v["IdleLoadBalancers_view"] = ViewSpec(
        "IdleLoadBalancers_view", fact, "load balancer name",
        computed=[
            _dt("date_time", fact),
            _money("estimated_monthly_savings", fact, "estimated monthly savings"),
        ])

    fact = "check_ti39halfu8"
    v["AmazonRDSIdleDBInstances_view"] = ViewSpec(
        "AmazonRDSIdleDBInstances_view", fact, "db instance name",
        computed=[
            _dt("date_time", fact),
            # double 2-arg replace: '$' then '"'; no substr (create-athena-views:116)
            ("estimated_monthly_savings",
             lambda f: pc.money_to_decimal(
                 f["estimated monthly savings on demand"], 10, 2,
                 substr_first=False, strip_quote=True),
             _d_money_rds(fact, "estimated monthly savings on demand")),
        ])

    fact = "check_g31sq1e9u"
    v["UnderutilizedAmazonRedshiftClusters_view"] = ViewSpec(
        "UnderutilizedAmazonRedshiftClusters_view", fact, "cluster",
        computed=[_dt("date_time", fact)])

    fact = "check_1e93e4c0b5"
    v["EC2ReservedInstanceLeaseExpiration_view"] = ViewSpec(
        "EC2ReservedInstanceLeaseExpiration_view", fact, None,  # no tag join
        computed=[
            _dt("date_time", fact),
            _money("current_monthly_cost", fact, "current monthly cost"),
            _money("estimated_monthly_savings", fact, "estimated monthly savings"),
            ("expiration_date",
             lambda f: pc.iso_expiration_to_timestamp(f["expiration date"]),
             "strptime(substr(replace(\"expiration date\", 'T', ' '), 1, 19), "
             "'%Y-%m-%d %H:%M:%S')"),
        ])

    fact = "check_51fc20e7i2"
    v["Route53LatencyResourceRecordSets_view"] = ViewSpec(
        "Route53LatencyResourceRecordSets_view", fact, "hosted zone name",
        computed=[_dt("date_time", fact)])

    fact = "summary"
    _guard_d = ('CAST(CAST(replace(CAST("resourcesprocessed" AS string), \'0\', \'1\') '
                "AS decimal(10,2)) AS double)")

    def _n(col: str) -> str:
        return f'CAST(CAST("{col}" AS decimal(10,2)) AS double)'

    v["summary_view"] = ViewSpec(
        "summary_view", fact, None,
        computed=[
            _dt("date_time", fact),
            # zero-guard quirk F8: every '0' digit → '1' (0→1, 10→11, 200→211)
            ("optimizationPercent",
             lambda f: (F.lit(1.0)
                        - f["resourcesflagged"].cast(DecimalType(10, 2)).cast("double")
                        / pc.zero_guard_decimal(f["resourcesprocessed"]).cast("double")
                        ) * F.lit(100.0),
             f"(1 - ({_n('resourcesflagged')} / {_guard_d})) * 100"),
            ("trueoptimizationPercent",
             lambda f: (F.lit(1.0)
                        - (f["resourcesflagged"].cast(DecimalType(10, 2)).cast("double")
                           - (f["resourcesignored"].cast(DecimalType(10, 2)).cast("double")
                              + f["resourcessuppressed"].cast(DecimalType(10, 2)).cast("double")))
                        / pc.zero_guard_decimal(f["resourcesprocessed"]).cast("double")
                        ) * F.lit(100.0),
             f"(1 - (({_n('resourcesflagged')} - ({_n('resourcesignored')} + "
             f"{_n('resourcessuppressed')})) / {_guard_d})) * 100"),
        ])

    fact = "check_z4aubrnsmz"
    v["UnassociatedElasticIPAddresses_view"] = ViewSpec(
        "UnassociatedElasticIPAddresses_view", fact, None,
        computed=[_dt("date_time", fact)])

    fact = "check_cx3c2r1chu"
    v["EC2ReservedInstancesOptimization_view"] = ViewSpec(
        "EC2ReservedInstancesOptimization_view", fact, None, executed=False,
        computed=[
            _dt("date_time", fact),
            _money("estimated_savings_with_recommendation_monthly", fact,
                   "estimated savings with recommendation monthly"),
            _money("upfront_cost_of_ris", fact, "upfront cost of ris"),
            _money("estimated_cost_of_ris_monthly", fact, "estimated cost of ris monthly"),
            _money("estimated_on-demand_cost_post_recommended_ri_purchase_monthly", fact,
                   "estimated on-demand cost post recommended ri purchase monthly"),
        ])
    return v


VIEWS: dict[str, ViewSpec] = _specs()


def view_df(spark: SparkSession, name: str, with_tags: bool | None = None,
            boundary_double: bool = True) -> DataFrame:
    """Build the view as a DataFrame plan over the registered raw tables.

    ``with_tags=None`` resolves like the reference: join iff the view has
    a join key and the ``tags`` table exists in the catalog
    (create-athena-views-lambda.py:57-72,91-93).

    Scale posture: AQE picks the physical join — broadcast
    hash when the tags dimension fits the session's 64MB threshold
    (session.tune_session; the sf0.1 tags table is ~11MB -> broadcast,
    measured 2-5x over sort-merge), sort-merge with skew handling when
    the dimension outgrows it.
    """
    spec = VIEWS[name]
    fact = spark.table(f"`{spec.fact}`")
    if with_tags is None:
        with_tags = (spec.join_key is not None
                     and spark.catalog.tableExists("tags"))
    join = with_tags and spec.join_key is not None

    # df[name] does exact-name lookup (no parsing), so spaces/'-'/'/' in the
    # Glue-normalized raw column names are safe without backticks
    sel: list[Column] = [fact[c] for c in fact.columns]
    for alias, fn, _ in spec.computed:
        sel.append(fn(fact).alias(alias))

    if join:
        tags = spark.table("tags")
        cond = (fact[f"`{spec.join_key}`"] == tags["resourceid"]) & (
            fact["datetime"] == tags["datetime"])
        out = fact.join(tags, cond, "left").select(
            *sel, *[tags[k] for k in TAG_KEYS])
    else:
        out = fact.select(*sel)

    if boundary_double:
        out = out.select(*[
            out[f.name].cast("double").alias(f.name)
            if isinstance(f.dataType, DecimalType) else out[f.name]
            for f in out.schema.fields
        ])
    return out


def view_oracle_sql(name: str, with_tags: bool | None = None) -> str:
    """Equivalent DuckDB SQL (fixture CTEs + the view body), decimal→double."""
    spec = VIEWS[name]
    if with_tags is None:
        with_tags = spec.join_key is not None
    join = with_tags and spec.join_key is not None

    tables = [spec.fact] + (["tags"] if join else [])
    ctes = fixtures.duckdb_ctes(tables)
    computed = ",\n  ".join(f'{dsql} AS "{alias}"' for alias, _, dsql in spec.computed)
    tag_cols = "".join(f', "tags"."{k}"' for k in TAG_KEYS) if join else ""
    if join:
        frm = (f'FROM "{spec.fact}" LEFT JOIN "tags" ON '
               f'("{spec.fact}"."{spec.join_key}" = "tags"."resourceid" '
               f'AND "{spec.fact}"."datetime" = "tags"."datetime")')
    else:
        frm = f'FROM "{spec.fact}"'
    return (f"WITH {ctes}\n"
            f'SELECT "{spec.fact}".*,\n  {computed}{tag_cols}\n{frm}')


def register_views(spark: SparkSession,
                   with_tags: bool | None = None) -> list[str]:
    """Publish every view into the session catalog (the reference's K4
    Athena-DDL sink becomes createOrReplaceTempView). Views whose fact
    table was never ingested are skipped (the reference's crawler would
    not have created the table either). Existence is a catalog lookup,
    and ``with_tags=None`` is resolved once for all views, so each fact
    is analysed once, by its view."""
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
