#!/usr/bin/env python3
"""Regenerate ``expected_digests.json``: the row count and
order-insensitive digest of every sql/corpus workload key, computed by
DuckDB from ``__spark_entry__.oracle_sql()`` over the generated inputs,
plus a fingerprint of those inputs (a run whose generated inputs differ
fails its correctness check instead of comparing against stale digests).

    python3 perfbench/make_digests.py        # from the checkout root

Rerun after changing the generator, ``DATA_SEED`` or a workload's keys.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import duckdb  # noqa: E402

import __spark_entry__  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402


def main() -> int:
    oracle = __spark_entry__.oracle_sql()
    out = {"data": {}, "keys": {}}
    scratch = os.path.join(ROOT, ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    for name, make in workloads.WORKLOADS.items():
        wl = make()
        if not isinstance(wl, workloads.QueryWorkload):
            continue
        with tempfile.TemporaryDirectory(dir=scratch) as tmp:
            wl.make_inputs(tmp, 0)
            out["data"][name] = workloads.data_fingerprint(wl.data_dir)
            con = duckdb.connect(config={"autoinstall_known_extensions": False,
                                         "autoload_known_extensions": False})
            for t in datagen.TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{wl.data_dir}/{t}.parquet'")
            for key in wl.keys:
                out["keys"][key] = list(workloads.canonical_digest(con.sql(oracle[key]).df()))
                print(key, out["keys"][key][0], file=sys.stderr)
            con.close()
    with open(workloads.DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
