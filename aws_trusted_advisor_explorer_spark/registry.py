"""Declarative schema registry — the reference's ``Header_*`` / ``Schema_*``
extract configuration as data (aws-trusted-advisor-explorer.template:450-471).

``HEADERS[check_id]`` are the CSV column headers the extract lands;
``SCHEMAS[check_id]`` entries are either a named top-level field of a
flagged resource (``status``, ``region``) or a digit indexing into its
``metadata`` array (extract-ta-data-lambda.py:169-177). Every output row
is prefixed ``Date,DateTime,CheckName`` and suffixed
``AccountId,AccountName,AccountEmail`` (:128-131,159-162,178-181).

``glue_normalize`` reproduces the Glue crawler's header→column-name
normalization (lowercase) the views rely on, e.g. header
``14-Day Average CPU Utilization`` → column
``14-day average cpu utilization`` (SURVEY.md §7.4 risk 5).
"""

from __future__ import annotations

# template:1489,1496
CATEGORY = "cost_optimizing"
SUPPORTED_CHECKS = [
    "Qch7DwouX1", "hjLMh88uM8", "DAvU99Dc4C", "Z4AUBRNSmz",
    "Ti39halfu8", "51fC20e7I2", "G31sQ1E9U", "1e93e4c0b5",
]

# extract-only checks: configured (Header_/Schema_ present) and landed
# by the ingest, but their view is defined-not-executed in the
# reference (EC2ReservedInstancesOptimization —
# create-athena-views-lambda.py:153-160). Kept here so the check-set
# configuration lives in ONE layer; pipeline.run_ingest consumes
# SUPPORTED_CHECKS + EXTRACT_ONLY_CHECKS.
EXTRACT_ONLY_CHECKS = ["cX3c2R1chu"]

HEADERS: dict[str, list[str]] = {
    "1e93e4c0b5": "Status,Zone,Instance Type,Platform,Instance Count,Current Monthly Cost,Estimated Monthly Savings,Expiration Date,Reserved Instance Id,Reason".split(","),
    "51fC20e7I2": "Status,Hosted Zone Name,Hosted Zone Id,Resource Record Set Name,Resource Record Set Type".split(","),
    "DAvU99Dc4C": "Status,Region,Volume Id,Volume Name,Volume Type,Volume Size,Monthly Storage Cost,Snapshot Id,Snapshot Name,Snapshot Age".split(","),
    "G31sQ1E9U": "Status,Region,Cluster,Instance Type,Reason,Estimated Monthly Savings".split(","),
    "Qch7DwouX1": "Status,Region,AZ,Instance Id,Instance Name,Instance Type,Estimated Monthly Savings,Day1,Day2,Day3,Day4,Day5,Day6,Day7,Day8,Day9,Day10,Day11,Day12,Day13,Day14 Latest Day,14-Day Average CPU Utilization,14-Day Average Network I/O,Number of Days Low Utilization".split(","),
    "Ti39halfu8": "Status,Region,DB Instance Name,Multi-AZ,Instance Type,Storage Provisioned GB,Days Since Last Connection,Estimated Monthly Savings On Demand".split(","),
    "Z4AUBRNSmz": "Status,Region,IP Address".split(","),
    "cX3c2R1chu": "Status,Region,Instance Type,Platform,Recommended Number of RIs to Purchase,Expected Average RI Utilization,Estimated Savings with Recommendation Monthly,Upfront Cost of RIs,Estimated cost of RIs Monthly,Estimated On-Demand Cost Post Recommended RI Purchase Monthly,Estimated Break Even Months,Lookback Period Days,Term Years".split(","),
    "hjLMh88uM8": "Status,Region,Load Balancer Name,Reason,Estimated Monthly Savings".split(","),
}

SCHEMAS: dict[str, list[str]] = {
    "1e93e4c0b5": "0,1,2,3,4,5,6,7,8,9".split(","),
    "51fC20e7I2": "status,0,1,2,3".split(","),
    "DAvU99Dc4C": "status,0,1,2,3,4,5,6,7,8".split(","),
    "G31sQ1E9U": "0,1,2,3,4,5".split(","),
    "Qch7DwouX1": "status,region,0,1,2,3,4,5,6,7,8,9,10,11,12,13,14,15,16,17,18,19,20,21".split(","),
    "Ti39halfu8": "status,0,1,2,3,4,5,6".split(","),
    "Z4AUBRNSmz": "status,0,1".split(","),
    "cX3c2R1chu": "status,0,1,2,3,4,5,6,7,8,9,10,11".split(","),
    "hjLMh88uM8": "status,0,1,2,3".split(","),
}

# Tag extraction resource types (template:2283)
TAG_RESOURCE_TYPES = [
    "rds:db", "ec2:instance", "ec2:volume",
    "elasticloadbalancing:loadbalancer", "route53:hostedzone", "redshift:dbname",
]


def glue_normalize(name: str) -> str:
    """Glue-crawler header→column normalization (lowercase; the raw headers
    contain no other characters the crawler rewrites)."""
    return name.lower()
