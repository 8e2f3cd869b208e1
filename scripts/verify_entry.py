"""Mimic the driver's verify: entry() smoke + every queries() vs oracle_sql()
at sf0.01 (row count + sorted-column schema + order-insensitive values).

Also writes ``CORRECTNESS_FULL.json`` (driver row format) to the repo
root covering ALL queries — the driver's own harness records only the
first 50 entries of ``queries()`` (measured round 1), so this committed
artifact is the full-coverage evidence for keys parked past that cap.
An sf0.1 argument writes the ``CORRECTNESS_FULL_SF0.1.json`` twin; any
other scale factor writes an untracked file (see :func:`output_path`).

``SPARK_GRAFT_ANSI=1`` runs the identical comparator with
``spark.sql.ansi.enabled=true`` and writes ``ANSI_PARITY.json``
instead (r11 verdict task 7): SURVEY §7.4 risk 1 is the Presto-CAST /
Spark-non-ANSI / DuckDB divergence triangle, handled today by
construction (guarded casts, zero-guard quirks) — this artifact turns
"by construction" into a measured per-key table under the strict
dialect.
"""

from __future__ import annotations

import json
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as ent
from aws_trusted_advisor_explorer_spark.session import get_spark
from tests.conftest import TABLE_NAMES, canonicalize

# the committed artifact of each (ANSI mode, scale factor) pair
COMMITTED = {(False, "sf0.01"): "CORRECTNESS_FULL.json",
             (False, "sf0.1"): "CORRECTNESS_FULL_SF0.1.json",
             (True, "sf0.01"): "ANSI_PARITY.json"}


def output_path(sf_dir: str, ansi: bool) -> str:
    """Where a run over ``sf_dir`` writes its report: the committed
    artifact of that exact scale factor, or for any other scale an
    untracked ``bench_results/last_correctness_<sf>.json``, so a smoke
    run never overwrites a committed artifact of another scale."""
    sf = os.path.basename(os.path.normpath(sf_dir))
    name = COMMITTED.get((ansi, sf))
    if name is None:
        suffix = "_ansi" if ansi else ""
        name = os.path.join("bench_results",
                            f"last_correctness_{sf}{suffix}.json")
    return os.path.join(ROOT, name)


SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ANSI = os.environ.get("SPARK_GRAFT_ANSI") == "1"


def main() -> int:
    out = output_path(SF, ANSI)
    spark = get_spark("verify_entry")
    if ANSI:
        spark.conf.set("spark.sql.ansi.enabled", "true")

    t0 = time.time()
    n = ent.entry(spark).count()
    print(f"entry(): {n} rows in {time.time() - t0:.1f}s")
    assert n >= 0

    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

    qs, os_ = ent.queries(), ent.oracle_sql()
    rc, n_ok = 0, 0
    report: dict[str, dict] = {}
    for key, fn in qs.items():
        t0 = time.time()
        row = {"rows_match": False, "schema_match": False,
               "hash_match": False, "spark_rows": None,
               "oracle_rows": None, "err": None}
        try:
            sdf = canonicalize(fn(spark, SF).toPandas())
            row["spark_rows"] = len(sdf)
            if key not in os_:
                print(f"  {key}: rows-only ({len(sdf)}) [{time.time()-t0:.1f}s]")
                row.update(rows_match=True, schema_match=True, hash_match=True,
                           err="rows-only (no oracle)")
                report[key] = row
                n_ok += 1
                continue
            ddf = canonicalize(con.sql(os_[key]).df())
            row["oracle_rows"] = len(ddf)
            assert list(sdf.columns) == list(ddf.columns), (
                f"cols\n  s={list(sdf.columns)}\n  d={list(ddf.columns)}")
            row["schema_match"] = True
            assert len(sdf) == len(ddf), f"rows {len(sdf)} vs {len(ddf)}"
            row["rows_match"] = True
            if len(sdf) and not sdf.equals(ddf):
                neq = (sdf != ddf).any(axis=0)
                raise AssertionError(f"values differ in {list(neq[neq].index)}")
            row["hash_match"] = True
            print(f"  {key}: OK {len(sdf)} rows [{time.time()-t0:.1f}s]")
            n_ok += 1
        except Exception as e:
            row["err"] = str(e)[:300]
            print(f"  {key}: FAIL {str(e)[:300]}")
            rc = 1
        report[key] = row
    print(f"{n_ok}/{len(qs)} queries pass")
    # provenance stamp: which code produced this artifact — the
    # committed file must always be re-generated AFTER the round's
    # last code commit, and the stamp makes that checkable
    import subprocess
    import time as _time
    head = subprocess.run(["git", "rev-parse", "--short", "HEAD"],
                          capture_output=True, text=True,
                          cwd=ROOT).stdout.strip() or "unknown"
    # dirty flag (r11 verdict task 6): a stamp at commit X is only
    # trustworthy if the working tree WAS X — uncommitted source at
    # generation time must be visible in the artifact. The verification
    # artifacts THEMSELVES are excluded: the round-end protocol
    # regenerates all three at the final code commit and then commits
    # them together, so their own in-progress rewrites must not mark
    # the run dirty.
    _ARTIFACTS = set(COMMITTED.values())
    status = subprocess.run(
        ["git", "status", "--porcelain", "--untracked-files=no"],
        capture_output=True, text=True, cwd=ROOT).stdout
    dirty = any(ln[3:].strip() not in _ARTIFACTS
                for ln in status.splitlines() if ln.strip())
    with open(out, "w") as f:
        json.dump({"sf_dir": SF, "n_queries": len(qs), "n_ok": n_ok,
                   "ansi_mode": ANSI,
                   "generated_at": _time.strftime(
                       "%Y-%m-%dT%H:%M:%SZ", _time.gmtime()),
                   "git_head": head, "git_dirty": dirty,
                   "rows": report}, f, indent=2)
    print(f"wrote {out}")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
