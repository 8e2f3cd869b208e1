"""Seeded input generators for the benchmark workloads.

``write_tables`` writes the ten input parquet tables (a
TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``) with the column names, types and value domains that
``session.load_tables`` and the query builders expect.
``ta_month`` builds Trusted Advisor API documents for several monthly
run snapshots together with the tag inventory a tag-API transport
serves, and returns the rows the ingest must land.

Everything derives from an integer seed through numpy's PCG64, so one
seed always gives byte-identical inputs on one numpy/pyarrow build.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
          "filter", "group", "hash", "join", "key", "line", "merge", "order",
          "part", "query", "row", "scan", "slow", "small", "sort", "spark",
          "stream", "table", "the", "value", "vector", "window"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]
_EMB_DIM = 64
_EPOCH = np.datetime64("1970-01-01", "D")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _days_us(rng, lo: str, hi: str, n: int) -> np.ndarray:
    """``n`` midnight timestamps (µs since the epoch) uniform in [lo, hi]."""
    a = (np.datetime64(lo, "D") - _EPOCH).astype(np.int64)
    b = (np.datetime64(hi, "D") - _EPOCH).astype(np.int64)
    return rng.integers(a, b + 1, n) * 86_400_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def _text_column(rng, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    idx = rng.integers(0, len(_WORDS), int(lens.sum()))
    words = np.array(_WORDS, dtype=object)[idx]
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(words[pos:pos + ln]))
        pos += ln
    # 5% near-duplicates (an earlier document plus one token) and a
    # few exact copies, so the dedup and contamination keys find pairs
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        out[i] = out[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), max(n // 600, 1), replace=False):
        out[i] = out[int(rng.integers(0, i))]
    return out


def build_tables(sf: float, n_docs: int, n_vecs: int, seed: int) -> dict[str, pa.Table]:
    """The ten input tables at scale factor ``sf`` (TPC-H row counts ×
    ``sf``; ``events`` has 1M × ``sf`` rows over 15k × ``sf`` users)."""
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 15)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, 1)
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[r.integers(0, 5, n_cust)]})
    r = _rng(seed, 2)
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp)})
    r = _rng(seed, 3)
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(
            np.array(_PART_ADJ)[r.integers(0, 8, n_part)], " "),
            np.array(_PART_NOUN)[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_PART_TYPES)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)})
    r = _rng(seed, 4)
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000, 500_000, n_ord),
        "o_orderdate": _ts(_days_us(r, "1995-01-01", "2001-08-01", n_ord)),
        "o_orderpriority": np.array(_PRIORITIES)[r.integers(0, 5, n_ord)]})
    r = _rng(seed, 5)
    t["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line),
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": r.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, 900, 105_000, n_line),
        "l_discount": np.round(r.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(r.uniform(0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days_us(r, "1995-01-02", "2001-11-04", n_line))})
    r = _rng(seed, 6)
    start = (np.datetime64("2024-01-01T00:00:00", "us") - np.datetime64(0, "us")).astype(np.int64)
    span = 30 * 86_400_000_000
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(start + np.sort(r.integers(0, span, n_ev))),
        "user_id": r.integers(0, n_users, n_ev),
        "event_type": np.array(_EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": np.char.add(np.char.add('{"k": ', r.integers(0, 100, n_ev).astype(str)), "}")})
    r = _rng(seed, 7)
    text = _text_column(r, n_docs)
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": text,
        "lang": np.array(_LANGS)[r.choice(5, n_docs, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in text], dtype=np.int64)})
    r = _rng(seed, 8)
    label = r.integers(0, 10, n_vecs)
    cents = r.normal(0, 1, (10, _EMB_DIM))
    v = cents[label] * 0.3 + r.normal(0, 1, (n_vecs, _EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(v.ravel()), _EMB_DIM).cast(pa.list_(pa.float32())),
        "label": label.astype(np.int32)})
    return t


def write_tables(out_dir: str, sf: float, n_docs: int, n_vecs: int,
                 seed: int) -> int:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, tbl in build_tables(sf, n_docs, n_vecs, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        total += os.path.getsize(path)
    return total


# ---------------------------------------------------------------------------
# ta_monthly: Trusted Advisor API documents and the tag inventory
# ---------------------------------------------------------------------------

RUNS = (("06-01-2025", "2025-06-01 09:00:00"),
        ("07-01-2025", "2025-07-01 09:00:00"),
        ("08-01-2025", "2025-08-01 09:00:00"))
TA_REGIONS = ("us-east-1", "us-west-2", "eu-west-1")
TAG_KEYS = ("env", "costcenter")
N_ACCOUNTS = 5
_TAG_VALUES = {"env": ("prod", "dev", "staging"),
               "costcenter": ("cc-1", "cc-2", "cc-3", "cc-4")}

# check id -> (check name, id header, resource id prefix, tag resource
# type, ARN resource path); the id header is the column the check's view
# joins to tags.resourceid
_CHECKS = {
    "Qch7DwouX1": ("Low Utilization Amazon EC2 Instances", "Instance Id",
                   "i-", "ec2:instance", "ec2:{r}:{a}:instance/"),
    "DAvU99Dc4C": ("Underutilized Amazon EBS Volumes", "Volume Id", "vol-",
                   "ec2:volume", "ec2:{r}:{a}:volume/"),
    "hjLMh88uM8": ("Idle Load Balancers", "Load Balancer Name", "lb-",
                   "elasticloadbalancing:loadbalancer",
                   "elasticloadbalancing:{r}:{a}:loadbalancer/"),
    "Ti39halfu8": ("Amazon RDS Idle DB Instances", "DB Instance Name", "db-",
                   "rds:db", "rds:{r}:{a}:db:"),
    "G31sQ1E9U": ("Underutilized Amazon Redshift Clusters", "Cluster", "rs-",
                  "redshift:dbname", "redshift:{r}:{a}:cluster:"),
    "1e93e4c0b5": ("Amazon EC2 Reserved Instance Lease Expiration",
                   "Reserved Instance Id", "ri-", None, None),
    "51fC20e7I2": ("Amazon Route 53 Latency Resource Record Sets",
                   "Hosted Zone Name", "zone", "route53:hostedzone",
                   "route53:::hostedzone/"),
    "Z4AUBRNSmz": ("Unassociated Elastic IP Addresses", "IP Address", "52.",
                   None, None),
    "cX3c2R1chu": ("Amazon EC2 Reserved Instances Optimization",
                   "Instance Type", "", None, None),
}


# check table -> the column ta_month keys its expected rows on
ID_HEADERS = {f"check_{cid.lower()}": c[1].lower() for cid, c in _CHECKS.items()}


def _cell(header: str, rid: str, region: str, i: int, rng) -> str:
    """One metadata string in the shape the check's view parses."""
    h = header.lower()
    n = int(rng.integers(0, 10_000))
    money = f"${n}.{i % 100:02d}" + ("  " if i % 5 == 0 else "")
    if h == "region":
        return region
    if h in ("az", "zone"):
        return region + ("a" if h == "az" else "b")
    if h.startswith("day"):
        return f"{n % 10}.{i % 10}%"
    if h == "14-day average cpu utilization":
        return f"{n % 10}.{i % 7}%  Low"
    if h == "14-day average network i/o":
        return f"{n % 10}.{i % 97:02d}%"
    if h == "number of days low utilization":
        return f"{i % 14 + 1} days"
    if h == "estimated monthly savings on demand":
        core = f"${n}.{i % 100:02d}"
        return f'"{core}"' if i % 3 == 0 else money
    if "savings" in h or "cost" in h:
        return money
    if h == "expiration date":
        return f"2026-{i % 12 + 1:02d}-{i % 28 + 1:02d}T09:30:00Z"
    if h == "volume size":
        return f"{n % 1000 + 8} GiB"
    if h == "platform":
        return ("Linux/UNIX", "Windows")[i % 2]
    if h == "multi-az":
        return ("Yes", "No")[i % 2]
    if h == "reason":
        return ("Low request count", "No connections for 7 days")[i % 2]
    if "instance type" in h:
        return ("t3.large", "m5.xlarge", "c5.2xlarge", "r5.large")[n % 4]
    if h == "resource record set type":
        return ("A", "CNAME")[i % 2]
    if h.endswith("utilization"):
        return f"{n % 100}%"
    return f"{h.split()[0]}-{n}"


def ta_month(seed: int, rows_per_check: int) -> dict:
    """Check-result documents for ``RUNS`` × accounts × checks plus the
    tag inventory of the last run.

    Returns ``docs`` (API-shaped dicts), ``expected`` (check table ->
    {(datetime, accountid, resource id): 1}), ``expected_summary``
    (row count), ``inventory`` ({(account, region, type): [resource
    dicts]}) and ``expected_tags`` ({(resource id, key): value}).
    About a tenth of the flagged resources carry status ``ok`` and
    must be filtered out by the ingest.
    """
    from aws_trusted_advisor_explorer_spark import registry

    rng = _rng(seed, 100)
    per_doc = max(rows_per_check // (len(RUNS) * N_ACCOUNTS), 1)
    docs, expected, inventory, tags = [], {}, {}, {}
    serial = 0
    for check_id, (name, id_header, prefix, rtype, arn_path) in _CHECKS.items():
        headers, schema = registry.HEADERS[check_id], registry.SCHEMAS[check_id]
        n_meta = sum(1 for e in schema if e.isdigit())
        table = f"check_{check_id.lower()}"
        rows = expected.setdefault(table, {})
        for run_date, run_dt in RUNS:
            for a in range(N_ACCOUNTS):
                acct = f"6100000000{a:02d}"
                flagged = []
                for j in range(per_doc):
                    # unique per resource: serial block plus a random offset
                    serial += 1
                    i = serial * 1000 + int(rng.integers(0, 1000))
                    region = TA_REGIONS[i % len(TA_REGIONS)]
                    rid = (f"{prefix}{i}" if check_id != "51fC20e7I2"
                           else f"zone{i}.example.com.")
                    status = ("ok", "error", "warning", "warning", "warning",
                              "warning", "warning", "warning", "warning",
                              "warning")[j % 10]
                    meta = [""] * n_meta
                    for header, entry in zip(headers, schema):
                        if not entry.isdigit():
                            continue
                        if header == "Status":
                            meta[int(entry)] = status
                        elif header == id_header:
                            meta[int(entry)] = rid
                        else:
                            meta[int(entry)] = _cell(header, rid, region, i, rng)
                    flagged.append({"status": status, "region": region,
                                    "resourceId": f"res-{i}", "metadata": meta})
                    key_val = meta[int(schema[headers.index(id_header)])]
                    if status != "ok":
                        k = (run_dt, acct, key_val)
                        rows[k] = rows.get(k, 0) + 1
                    if rtype and run_dt == RUNS[-1][1] and status != "ok":
                        r_tags = [{"Key": k, "Value": str(rng.choice(v))}
                                  for k, v in _TAG_VALUES.items()
                                  if rng.random() < 0.8]
                        r_tags.append({"Key": "team", "Value": "unrequested"})
                        arn = "arn:aws:" + arn_path.format(r=region, a=acct) + rid
                        inventory.setdefault((acct, region, rtype), []).append(
                            {"ResourceARN": arn, "Tags": r_tags})
                        for t in r_tags:
                            if t["Key"] in TAG_KEYS:
                                tags[(rid, t["Key"])] = t["Value"]
                saved = round(float(rng.uniform(0, 5000)), 2)
                docs.append({
                    "AccountId": acct, "AccountName": f"Account {a}",
                    "AccountEmail": f"acct{a}@example.com",
                    "Date": run_date, "DateTime": run_dt, "CheckName": name,
                    "result": {
                        "checkId": check_id, "status": "warning",
                        "resourcesSummary": {
                            "resourcesProcessed": 10 * per_doc,
                            "resourcesFlagged": per_doc,
                            "resourcesIgnored": 0, "resourcesSuppressed": 0},
                        "categorySpecificSummary": {"costOptimizing": {
                            "estimatedMonthlySavings": saved,
                            "estimatedPercentMonthlySavings": 0.1}},
                        "flaggedResources": flagged}})
    return {"docs": docs, "expected": expected,
            "expected_summary": len(docs), "inventory": inventory,
            "expected_tags": tags}
