"""Deterministic reference-shaped raw layer derived from the driver parquet.

The reference (awslabs/aws-trusted-advisor-explorer) lands untyped
string CSV tables ``check_<id>`` / ``summary`` / ``tags``
(/root/reference/source/extract-ta-data-lambda.py:110-189,
/root/reference/source/extract-tag-data-lambda.py:129-143); its 10
Athena views are typed projections over them. To oracle-check our view
implementations against DuckDB, this module derives those raw tables
*deterministically from the driver's TPC-H-ish parquet* using a SQL
dialect subset that runs VERBATIM in both Spark SQL and DuckDB
(verified by scripts/check_dialect_parity.py): ``||``, substr, replace,
lpad, cast-as-string/bigint/decimal, floor, %, case/when.

Identifier quoting is the one dialect difference: SQL here uses
double-quoted identifiers (DuckDB); :func:`to_spark_sql` rewrites them
to backticks. No double-quoted *string literals* may appear.

Fixture construction rules follow /root/repo/FIXTURES.md: identity
prefix/suffix columns, MM-DD-YYYY dates, 3 run snapshots (the tags join
is an as-of-run snapshot join), money as ``$N.NN`` with trailing-space
rows (exercises rtrim), the RDS ``"``-wrapped savings, ISO-``T``
expiration dates, and ``resourcesprocessed`` in {0,10,100,200} to pin
the summary_view zero-guard quirk
(/root/reference/source/create-athena-views-lambda.py:147-148).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# ---------------------------------------------------------------------------
# shared expression builders (all emit the common dialect)
# ---------------------------------------------------------------------------


def _run_dt(uid: str) -> str:
    """Run-snapshot datetime string, YYYY-MM-DD HH:MM:SS — 3 distinct runs."""
    return (
        f"case ({uid}) % 3 when 0 then '2025-06-01 09:00:00' "
        f"when 1 then '2025-07-01 09:00:00' else '2025-08-01 09:00:00' end"
    )


def _run_date(uid: str) -> str:
    """Run-snapshot date string, MM-DD-YYYY (get-accounts-info-lambda.py:110)."""
    return (
        f"case ({uid}) % 3 when 0 then '06-01-2025' "
        f"when 1 then '07-01-2025' else '08-01-2025' end"
    )


def _acct(uid: str) -> str:
    """12-digit account id over 5 synthetic accounts."""
    return f"'6100000000' || lpad(cast(({uid}) % 5 as string), 2, '0')"


def _acct_name(uid: str) -> str:
    return f"'Account ' || cast(({uid}) % 5 as string)"


def _acct_email(uid: str) -> str:
    return f"'acct' || cast(({uid}) % 5 as string) || '@example.com'"


def _region(uid: str) -> str:
    return (
        f"case ({uid}) % 3 when 0 then 'us-east-1' "
        f"when 1 then 'us-west-2' else 'eu-west-1' end"
    )


def _money(int_expr: str, uid: str, trail: bool = True) -> str:
    """``$N.NN`` money string; every 5th row gets trailing spaces (rtrim path)."""
    s = (
        f"'$' || cast(({int_expr}) % 10000 as string) || '.' || "
        f"lpad(cast(({uid}) % 100 as string), 2, '0')"
    )
    if trail:
        s += f" || case when ({uid}) % 5 = 0 then '  ' else '' end"
    return s


def _status(uid: str) -> str:
    """Flagged-resource status ∈ {warning,error} (extract-ta-data-lambda.py:165)."""
    return f"case when ({uid}) % 7 = 0 then 'error' else 'warning' end"


def _prefix(uid: str, checkname: str) -> list[tuple[str, str]]:
    return [
        ("date", _run_date(uid)),
        ("datetime", _run_dt(uid)),
        ("checkname", f"'{checkname}'"),
    ]


def _suffix(uid: str) -> list[tuple[str, str]]:
    return [
        ("accountid", _acct(uid)),
        ("accountname", _acct_name(uid)),
        ("accountemail", _acct_email(uid)),
    ]


def _select(cols: list[tuple[str, str]], from_clause: str) -> str:
    body = ",\n  ".join(f'{expr} AS "{name}"' for name, expr in cols)
    return f"SELECT\n  {body}\n{from_clause}"


# ---------------------------------------------------------------------------
# per-check fixture tables
# ---------------------------------------------------------------------------

# (fixture key derivations; join columns must match the tags segments below)
_EC2_UID = "l_orderkey * 8 + l_linenumber"
_EC2_ID = f"'i-' || lpad(cast({_EC2_UID} as string), 17, '0')"
_EBS_UID = "o_orderkey"
_EBS_ID = f"'vol-' || lpad(cast({_EBS_UID} as string), 17, '0')"
_ELB_UID = "c_custkey"
_ELB_ID = f"'lb-' || cast({_ELB_UID} as string)"
_RDS_UID = "o_orderkey"
_RDS_ID = f"'db-' || cast({_RDS_UID} as string)"
_RDS_FILTER = "o_orderkey % 4 = 1"
_RS_UID = "c_custkey"
_RS_ID = f"'rs-' || cast({_RS_UID} as string)"
_RS_FILTER = "c_custkey % 3 = 0"
_R53_UID = "c_custkey"
_R53_ID = f"'zone' || cast({_R53_UID} as string) || '.example.com.'"
_R53_FILTER = "c_custkey % 2 = 0"


def _check_qch7dwoux1() -> str:
    """Low Utilization Amazon EC2 Instances — 30 cols, from lineitem."""
    uid = _EC2_UID
    cols = _prefix(uid, "Low Utilization Amazon EC2 Instances")
    cols += [
        ("status", _status(uid)),
        ("region", _region("l_suppkey")),
        ("az", f"{_region('l_suppkey')} || 'a'"),
        ("instance id", _EC2_ID),
        ("instance name", f"'web-' || cast(({uid}) % 1000 as string)"),
        ("instance type",
         f"case l_partkey % 4 when 0 then 't3.large' when 1 then 'm5.xlarge' "
         f"when 2 then 'c5.2xlarge' else 'r5.large' end"),
        ("estimated monthly savings",
         _money("cast(floor(l_extendedprice) as bigint)", uid)),
    ]
    for i in range(1, 14):
        cols.append((f"day{i}",
                     f"cast(({uid} + {i}) % 10 as string) || '.' || "
                     f"cast(({uid} * {i}) % 10 as string) || '%'"))
    cols += [
        ("day14 latest day",
         f"cast(({uid} + 14) % 10 as string) || '.' || "
         f"cast(({uid} * 14) % 10 as string) || '%'"),
        # substr(x,1,3) must be a valid decimal, e.g. '2.3%  Low' -> '2.3'
        ("14-day average cpu utilization",
         f"cast(({uid}) % 10 as string) || '.' || cast(({uid}) % 7 as string) || '%  Low'"),
        # substr(x,1,4) must be a valid decimal, e.g. '2.35%' -> '2.35'
        ("14-day average network i/o",
         f"cast(({uid}) % 10 as string) || '.' || "
         f"lpad(cast(({uid}) % 97 as string), 2, '0') || '%'"),
        ("number of days low utilization",
         f"cast(({uid}) % 14 + 1 as string) || ' days'"),
    ]
    cols += _suffix(uid)
    return _select(cols, "FROM lineitem")


def _check_davu99dc4c() -> str:
    """Underutilized Amazon EBS Volumes — 16 cols, from orders."""
    uid = _EBS_UID
    cols = _prefix(uid, "Underutilized Amazon EBS Volumes")
    cols += [
        ("status", _status(uid)),
        ("region", _region(uid)),
        ("volume id", _EBS_ID),
        ("volume name", f"'data-' || cast(({uid}) % 1000 as string)"),
        ("volume type", f"case ({uid}) % 3 when 0 then 'gp2' when 1 then 'gp3' else 'io1' end"),
        ("volume size", f"cast(({uid}) % 1000 + 8 as string) || ' GiB'"),
        ("monthly storage cost", _money("cast(floor(o_totalprice) as bigint)", uid)),
        ("snapshot id", f"'snap-' || lpad(cast({uid} as string), 17, '0')"),
        ("snapshot name", f"'snap-name-' || cast(({uid}) % 100 as string)"),
        ("snapshot age", f"cast(({uid}) % 365 as string)"),
    ]
    cols += _suffix(uid)
    return _select(cols, "FROM orders")


def _check_hjlmh88um8() -> str:
    """Idle Load Balancers — 11 cols, from customer."""
    uid = _ELB_UID
    cols = _prefix(uid, "Idle Load Balancers")
    cols += [
        ("status", _status(uid)),
        ("region", _region(uid)),
        ("load balancer name", _ELB_ID),
        ("reason",
         f"case ({uid}) % 2 when 0 then 'Low request count' else 'No active backend instances' end"),
        ("estimated monthly savings", _money(uid, uid)),
    ]
    cols += _suffix(uid)
    return _select(cols, "FROM customer")


def _check_ti39halfu8() -> str:
    """Amazon RDS Idle DB Instances — 14 cols, from orders (1/4 slice).

    The savings column may be ``"``-wrapped (view strips '$' then '"' via
    two 2-arg Presto replaces — create-athena-views-lambda.py:116).
    """
    uid = _RDS_UID
    inner_money = _money("cast(floor(o_totalprice) as bigint)", uid, trail=False)
    cols = _prefix(uid, "Amazon RDS Idle DB Instances")
    cols += [
        ("status", _status(uid)),
        ("region", _region(uid)),
        ("db instance name", _RDS_ID),
        ("multi-az", f"case ({uid}) % 2 when 0 then 'Yes' else 'No' end"),
        ("instance type",
         f"case ({uid}) % 3 when 0 then 'db.t3.medium' when 1 then 'db.m5.large' else 'db.r5.large' end"),
        ("storage provisioned gb", f"cast(({uid}) % 500 + 20 as string)"),
        ("days since last connection",
         f"case when ({uid}) % 3 = 0 then '14+' else cast(({uid}) % 14 as string) end"),
        ("estimated monthly savings on demand",
         f"case when ({uid}) % 3 = 0 then '\"' || {inner_money} || '\"' "
         f"else {inner_money} || case when ({uid}) % 5 = 0 then '  ' else '' end end"),
    ]
    cols += _suffix(uid)
    return _select(cols, f"FROM orders\nWHERE {_RDS_FILTER}")


def _check_g31sq1e9u() -> str:
    """Underutilized Amazon Redshift Clusters — 12 cols, from customer (1/3)."""
    uid = _RS_UID
    cols = _prefix(uid, "Underutilized Amazon Redshift Clusters")
    cols += [
        ("status", _status(uid)),
        ("region", _region(uid)),
        ("cluster", _RS_ID),
        ("instance type",
         f"case ({uid}) % 2 when 0 then 'dc2.large' else 'ra3.xlplus' end"),
        ("reason",
         f"case ({uid}) % 2 when 0 then 'No connections for 7 days' else 'Low CPU utilization' end"),
        ("estimated monthly savings", _money(uid, uid)),
    ]
    cols += _suffix(uid)
    return _select(cols, f"FROM customer\nWHERE {_RS_FILTER}")


def _check_1e93e4c0b5() -> str:
    """EC2 Reserved Instance Lease Expiration — 16 cols, from part. No tag join.

    ``expiration date`` is ISO-8601 with 'T' (view replaces 'T'→' ' then
    parses first 19 chars — create-athena-views-lambda.py:133).
    """
    uid = "p_partkey"
    cols = _prefix(uid, "Amazon EC2 Reserved Instance Lease Expiration")
    cols += [
        ("status", _status(uid)),
        ("zone", f"{_region(uid)} || 'b'"),
        ("instance type",
         f"case ({uid}) % 4 when 0 then 't3.large' when 1 then 'm5.xlarge' "
         f"when 2 then 'c5.2xlarge' else 'r5.large' end"),
        ("platform", f"case ({uid}) % 2 when 0 then 'Linux/UNIX' else 'Windows' end"),
        ("instance count", f"cast(({uid}) % 20 + 1 as string)"),
        ("current monthly cost", _money("p_size * 37", uid)),
        ("estimated monthly savings", _money("p_size * 11", uid)),
        ("expiration date",
         f"'2026-' || lpad(cast(({uid}) % 12 + 1 as string), 2, '0') || '-' || "
         f"lpad(cast(({uid}) % 28 + 1 as string), 2, '0') || 'T09:30:00Z'"),
        ("reserved instance id", f"'ri-' || lpad(cast({uid} as string), 17, '0')"),
        ("reason", "'Expiring soon'"),
    ]
    cols += _suffix(uid)
    return _select(cols, "FROM part")


def _check_51fc20e7i2() -> str:
    """Route 53 Latency Resource Record Sets — 11 cols, from customer (1/2)."""
    uid = _R53_UID
    cols = _prefix(uid, "Amazon Route 53 Latency Resource Record Sets")
    cols += [
        ("status", _status(uid)),
        ("hosted zone name", _R53_ID),
        ("hosted zone id", f"'Z' || lpad(cast({uid} as string), 13, '0')"),
        ("resource record set name",
         f"'api.zone' || cast({uid} as string) || '.example.com.'"),
        ("resource record set type", f"case ({uid}) % 2 when 0 then 'A' else 'CNAME' end"),
    ]
    cols += _suffix(uid)
    return _select(cols, f"FROM customer\nWHERE {_R53_FILTER}")


def _check_z4aubrnsmz() -> str:
    """Unassociated Elastic IP Addresses — 9 cols, from supplier. No tag join."""
    uid = "s_suppkey"
    cols = _prefix(uid, "Unassociated Elastic IP Addresses")
    cols += [
        ("status", _status(uid)),
        ("region", _region(uid)),
        ("ip address",
         f"'52.' || cast(({uid}) % 256 as string) || '.' || "
         f"cast(({uid} * 7) % 256 as string) || '.' || cast(({uid} * 13) % 256 as string)"),
    ]
    cols += _suffix(uid)
    return _select(cols, "FROM supplier")


def _check_cx3c2r1chu() -> str:
    """EC2 Reserved Instances Optimization — 19 cols, from part (1/2).

    The reference defines this view but omits it from the executed list
    (create-athena-views-lambda.py:153-162); we register it and flag the
    provenance in plans/views.py.
    """
    uid = "p_partkey"
    cols = _prefix(uid, "Amazon EC2 Reserved Instances Optimization")
    cols += [
        ("status", _status(uid)),
        ("region", _region(uid)),
        ("instance type",
         f"case ({uid}) % 4 when 0 then 't3.large' when 1 then 'm5.xlarge' "
         f"when 2 then 'c5.2xlarge' else 'r5.large' end"),
        ("platform", f"case ({uid}) % 2 when 0 then 'Linux/UNIX' else 'Windows' end"),
        ("recommended number of ris to purchase", f"cast(({uid}) % 10 + 1 as string)"),
        ("expected average ri utilization", f"cast(({uid}) % 100 as string) || '%'"),
        ("estimated savings with recommendation monthly", _money("p_size * 23", uid)),
        ("upfront cost of ris", _money("p_size * 101", uid)),
        ("estimated cost of ris monthly", _money("p_size * 53", uid)),
        ("estimated on-demand cost post recommended ri purchase monthly",
         _money("p_size * 71", uid)),
        ("estimated break even months", f"cast(({uid}) % 12 + 1 as string)"),
        ("lookback period days", f"case ({uid}) % 2 when 0 then '30' else '60' end"),
        ("term years", f"case ({uid}) % 2 when 0 then '1' else '3' end"),
    ]
    cols += _suffix(uid)
    return _select(cols, f"FROM part\nWHERE p_partkey % 2 = 0")


_CHECK_NAMES_BY_IDX = [
    ("Qch7DwouX1", "Low Utilization Amazon EC2 Instances"),
    ("DAvU99Dc4C", "Underutilized Amazon EBS Volumes"),
    ("hjLMh88uM8", "Idle Load Balancers"),
    ("Ti39halfu8", "Amazon RDS Idle DB Instances"),
    ("G31sQ1E9U", "Underutilized Amazon Redshift Clusters"),
    ("1e93e4c0b5", "Amazon EC2 Reserved Instance Lease Expiration"),
    ("51fC20e7I2", "Amazon Route 53 Latency Resource Record Sets"),
    ("Z4AUBRNSmz", "Unassociated Elastic IP Addresses"),
    ("cX3c2R1chu", "Amazon EC2 Reserved Instances Optimization"),
]


def _summary() -> str:
    """Per-(check, account, run) snapshot — 14 cols, from orders.

    ``resourcesprocessed`` cycles {0,10,100,200} to pin the summary_view
    zero-guard quirk '0'→'1' (→ 1, 11, 111, 211).
    """
    uid = "o_orderkey"
    checkid = ("case (" + uid + ") % 9 "
               + " ".join(f"when {i} then '{cid}'" for i, (cid, _) in enumerate(_CHECK_NAMES_BY_IDX))
               + " end")
    checkname = ("case (" + uid + ") % 9 "
                 + " ".join(f"when {i} then '{nm}'" for i, (_, nm) in enumerate(_CHECK_NAMES_BY_IDX))
                 + " end")
    cols = [
        ("date", _run_date(uid)),
        ("datetime", _run_dt(uid)),
        ("checkname", checkname),
        ("checkid", checkid),
        ("status", f"case ({uid}) % 3 when 0 then 'ok' when 1 then 'warning' else 'error' end"),
        ("resourcesprocessed",
         f"case ({uid}) % 4 when 0 then '0' when 1 then '10' when 2 then '100' else '200' end"),
        ("resourcesflagged", f"cast(({uid}) % 8 as string)"),
        ("resourcesignored", f"cast(({uid}) % 3 as string)"),
        ("resourcessuppressed", f"cast(({uid}) % 2 as string)"),
        ("estimatedmonthlysavings",
         f"cast(cast(floor(o_totalprice) as bigint) % 100000 as string) || '.42'"),
        ("estimatedpercentmonthlysavings",
         f"'0.' || lpad(cast(({uid}) % 100 as string), 2, '0')"),
    ]
    cols += _suffix(uid)
    return _select(cols, "FROM orders")


def _tags() -> str:
    """Pivoted resource-tag dimension — 9 + 2 tag-key cols (env, costcenter).

    One UNION ALL segment per resource type
    (aws-trusted-advisor-explorer.template:2283). Each segment repeats
    its fact table's key derivation, filtered to ``uid % 10 < 7`` so
    ~70% of fact rows find a tag (LEFT-join null side exercised), plus
    an orphan segment (tag rows with no fact match, dropped by the
    join). ``resourceid`` is the last '/'- or ':'-segment of the ARN
    (extract-tag-data-lambda.py:48-57) — constructed consistently here.
    """

    def seg(uid: str, rid: str, rtype: str, arn_mid: str, from_clause: str,
            extra_filter: str | None = None) -> str:
        flt = f"({uid}) % 10 < 7"
        if extra_filter:
            flt = f"{extra_filter} AND {flt}"
        region = _region(uid)
        cols = [
            ("date", _run_date(uid)),
            ("datetime", _run_dt(uid)),
            ("accountid", _acct(uid)),
            ("accountname", _acct_name(uid)),
            ("accountemail", _acct_email(uid)),
            ("regionname", region),
            ("resourcetype", f"'{rtype}'"),
            ("resourcearn",
             f"'arn:aws:{arn_mid}' || {region} || ':' || {_acct(uid)} || '{_ARN_SEP[rtype]}' || {rid}"),
            ("resourceid", rid),
            ("env", f"case ({uid}) % 3 when 0 then 'prod' when 1 then 'dev' else 'staging' end"),
            ("costcenter", f"'cc-' || cast(({uid}) % 5 as string)"),
        ]
        return _select(cols, f"{from_clause}\nWHERE {flt}")

    segs = [
        seg(_EC2_UID, _EC2_ID, "ec2:instance", "ec2:", "FROM lineitem"),
        seg(_EBS_UID, _EBS_ID, "ec2:volume", "ec2:", "FROM orders"),
        seg(_ELB_UID, _ELB_ID, "elasticloadbalancing:loadbalancer",
            "elasticloadbalancing:", "FROM customer"),
        seg(_RDS_UID, _RDS_ID, "rds:db", "rds:", "FROM orders", _RDS_FILTER),
        seg(_RS_UID, _RS_ID, "redshift:dbname", "redshift:", "FROM customer", _RS_FILTER),
        seg(_R53_UID, _R53_ID, "route53:hostedzone", "route53:", "FROM customer", _R53_FILTER),
        # orphan tag rows: no matching fact key (join drops them)
        seg("n_nationkey * 10", "'orphan-' || cast(n_nationkey as string)",
            "ec2:instance", "ec2:", "FROM nation"),
    ]
    union = "\nUNION ALL\n".join(segs)
    # the driver's lineitem is TPC-H-ish: (l_orderkey, l_linenumber) is NOT
    # unique, so dedup the dimension — duplicate uids derive identical full
    # rows, making DISTINCT exact. Mirrors the reference's per-ARN dict
    # accumulation (extract-tag-data-lambda.py:74-88, last-write-wins): one
    # tag row per (resource, run).
    return f"SELECT DISTINCT * FROM (\n{union}\n) AS u"


# ARN separator before the resource id: tests both extraction paths of
# P7 (last '/'-segment for ec2/elb/route53, last ':'-segment for rds/redshift)
_ARN_SEP = {
    "ec2:instance": ":instance/",
    "ec2:volume": ":volume/",
    "elasticloadbalancing:loadbalancer": ":loadbalancer/",
    "rds:db": ":db:",
    "redshift:dbname": ":dbname:",
    "route53:hostedzone": ":hostedzone/",
}

# fixture table name -> common-dialect SQL text (rendered lazily by
# raw_table_sql; tag-join keys live in plans/views.ViewSpec.join_key)
RAW_TABLES: dict[str, str] = {}


def raw_table_sql() -> dict[str, str]:
    """All raw-layer fixture tables as common-dialect SQL (DuckDB quoting)."""
    global RAW_TABLES
    if not RAW_TABLES:
        RAW_TABLES = {
            "check_qch7dwoux1": _check_qch7dwoux1(),
            "check_davu99dc4c": _check_davu99dc4c(),
            "check_hjlmh88um8": _check_hjlmh88um8(),
            "check_ti39halfu8": _check_ti39halfu8(),
            "check_g31sq1e9u": _check_g31sq1e9u(),
            "check_1e93e4c0b5": _check_1e93e4c0b5(),
            "check_51fc20e7i2": _check_51fc20e7i2(),
            "check_z4aubrnsmz": _check_z4aubrnsmz(),
            "check_cx3c2r1chu": _check_cx3c2r1chu(),
            "summary": _summary(),
            "tags": _tags(),
        }
    return RAW_TABLES


# the input tables the raw fixture SQL reads
FIXTURE_BASE_TABLES = ("lineitem", "orders", "customer", "part", "supplier",
                       "nation", "region")


def to_spark_sql(sql: str) -> str:
    """Rewrite double-quoted identifiers to backticks for Spark SQL.

    Safe because the fixture dialect bans double-quoted string literals
    ('"' inside single-quoted literals is written via ``'\"'`` -> no:
    we concatenate a literal '"' only in _check_ti39halfu8, so handle it).
    """
    # protect the one legitimate double-quote string literal: '"'
    protected = sql.replace("'\"'", "\x00Q\x00")
    converted = protected.replace('"', "`")
    return converted.replace("\x00Q\x00", "'\"'")


def register_raw_tables(spark: SparkSession,
                        sf_dir: str) -> dict[str, DataFrame]:
    """Register the fixture raw layer as temp views over the driver parquet.

    Each raw table lands as parquet once per (fixture-SQL, sf_dir,
    source files' size and mtime) under a content-keyed scratch dir,
    and the views are scans over it — mirroring the reference, where the raw
    layer is *landed* CSV, not recomputed per query, and giving every
    downstream view a real columnar scan (pushdown + pruning) instead
    of re-running the string-building derivation. The derivation cost
    is paid once per scale factor; the cache key hashes the fixture SQL
    so edits invalidate it.
    """
    import hashlib
    import os
    import tempfile
    from functools import partial

    from aws_trusted_advisor_explorer_spark.session import (
        land_once, load_tables, source_stamp,
    )

    load_tables(spark, sf_dir)
    sqls = raw_table_sql()
    out = {}
    # layout v3: land as many files as the session has cores — a scan's
    # parallelism is bounded by file count (maxPartitionBytes never
    # splits a 5 MB file), so a 4-file landing caps a 32-core scan at 4
    # tasks; same rule as sizing landed objects on a real cluster.
    # The repartition runs on the NARROW base table BEFORE the string
    # derivation (guide §2.3 "project before the exchange", inverted:
    # exchange before the opaque wide projection): each driver parquet
    # is a single file = a single scan task, so `derive.repartition(n)`
    # built the 30-string-column fixture rows in ONE task and then
    # shuffled the derived strings — measured 14.1 s for the lineitem
    # check at sf0.1; repartitioning the base first derives in n
    # parallel tasks and shuffles only the base columns (2.3 s, 6x).
    n_files = spark.sparkContext.defaultParallelism
    key_src = ("|".join(f"{n}={s}" for n, s in sorted(sqls.items()))
               + sf_dir + f"|layout=v3:{n_files}|" + source_stamp(
                   *(os.path.join(sf_dir, f"{t}.parquet")
                     for t in FIXTURE_BASE_TABLES)))
    key = hashlib.md5(key_src.encode()).hexdigest()[:12]
    base = os.path.join(tempfile.gettempdir(), "spark_fixture_cache", key)
    landed_bases: set[str] = set()

    def _landing_sql(sql: str) -> str:
        """Rewrite FROM/JOIN <base> to the repartitioned __land_<base>
        twin view, registering the twin on first use. Matches JOINed
        and comma-free references alike and lists every base table
        (r12 advice: FROM-only + a short alternation left JOINed bases
        on the single-file scan, silently capping the parallel
        derivation to part of a multi-table fixture)."""
        import re

        def sub(m: "re.Match[str]") -> str:
            kw, b = m.group(1), m.group(2)
            if b not in landed_bases:
                spark.table(b).repartition(n_files) \
                    .createOrReplaceTempView(f"__land_{b}")
                landed_bases.add(b)
            return f"{kw} __land_{b}"

        return re.sub(
            rf"(FROM|JOIN) ({'|'.join(FIXTURE_BASE_TABLES)})\b", sub, sql)

    def derive(name: str, sql: str) -> DataFrame:
        df = spark.sql(_landing_sql(to_spark_sql(sql)))
        # tags ends in DISTINCT, whose post-shuffle partition count AQE
        # coalesces by size (~1 at sf0.1) — re-spread so the landed
        # file count still equals n_files
        return df.repartition(n_files) if name == "tags" else df

    for name, sql in sqls.items():
        df = land_once(spark, os.path.join(base, name), name,
                       partial(derive, name, sql))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def duckdb_ctes(tables: list[str]) -> str:
    """``WITH`` clause body exposing the given fixture tables to DuckDB."""
    sqls = raw_table_sql()
    return ",\n".join(f'"{t}" AS (\n{sqls[t]}\n)' for t in tables)
