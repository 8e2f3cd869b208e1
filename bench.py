#!/usr/bin/env python
"""Benchmark harness: runs every query in ``__spark_entry__.queries()``
at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...},
     "sf": ..., "n_queries": N, "queries_full": "bench_results/"}

``value`` totals ALL queries; the stdout ``queries`` map holds the
slowest BENCH_TOP so the line fits the consumer's ~1.9 KB tail
capture, and the COMPLETE per-query map is written to
``bench_results/last_bench_sf{sf}.json`` (uncommitted) by every run —
or to the canonical ``bench_sf{sf}.json`` that scripts/gen_scaling.py
consumes when SPARK_GRAFT_BENCH_COMMIT=1, so a casual drive can never
overwrite the committed regression anchors.

Each query is forced end-to-end with a ``noop``-format write (full
computation, zero sink cost) so the timing measures the plan, not
driver-side collection.

The payload also stamps ``"fixture_cache": "cold"|"warm"`` — cold runs
pay the one-time fixture landing (priced as ``plane:fixture_land:*``
rows), so cross-round comparisons should normalize on this field.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# slowest-N queries included in the one-line stdout JSON; the FULL
# per-query map is written to bench_results/bench_sf{sf}.json on every
# run (the stdout consumer keeps only a ~1.9 KB tail, so the line must
# fit inside it)
BENCH_TOP = 30


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1).rstrip(".")) if m else 0.0


def main() -> None:
    # the JVM inherits fd 1 at launch — park it on stderr for the whole
    # run so stray JVM output (progress bars, GC logs) can never break
    # the one-JSON-line stdout contract; restored for the final print
    real_stdout = os.dup(1)
    sys.stdout.flush()
    os.dup2(2, 1)

    import __spark_entry__ as entrymod
    from aws_trusted_advisor_explorer_spark.session import (
        drain_plane_timings, get_spark,
    )

    spark = get_spark("ta_explorer_bench")
    queries = entrymod.queries()

    # session-plane attribution (r10 verdict task 2): every
    # @session_plane build and every cold fixture landing records (label, seconds); bench.py drains
    # after each execution, so one-time plane builds become their own
    # "plane:<label>" rows instead of silently landing inside whichever
    # query runs first in its family, and timed-pass query numbers are
    # NET of any build they triggered. Reconciliation: plane rows +
    # query rows = the reported total ("value"); the first consumer of
    # each plane is recorded in "plane_trigger".
    planes: dict[str, float] = {}
    plane_trigger: dict[str, str] = {}

    def drain(trigger: str) -> float:
        tot = 0.0
        for label, sec in drain_plane_timings():
            planes[label] = round(planes.get(label, 0.0) + sec, 4)
            plane_trigger.setdefault(label, trigger)
            tot += sec
        return tot

    # warm the JVM + parquet footers once so per-query times measure the
    # query, not session startup
    from aws_trusted_advisor_explorer_spark.plans import fixtures

    fixtures.register_raw_tables(spark, SF_DIR)
    drain("register_raw_tables")
    # fixture-cache state stamp (r12 verdict item 8): a COLD run pays
    # the one-time ~20 s fixture landing (priced as plane:fixture_land:*
    # rows); stamping cold/warm into the JSON lets cross-round PERF
    # comparisons normalize for it instead of guessing
    fixture_cache = ("cold" if any(k.startswith("fixture_land:")
                                   for k in planes) else "warm")

    # TWO untimed warm passes before the timed ones: per-query first
    # executions are dominated by whole-stage-codegen compilation, and
    # tiered JIT means a single warm execution still leaves ~2-4x on
    # the second (measured r9: view_low_util_ec2_no_tags runs 3.17 s
    # -> 1.32 s -> 0.32 s on consecutive executions — one warm pass
    # let a 2.96 s reading land in the committed anchor for a 0.3 s
    # steady-state query)
    for _ in range(2):
        for name, fn in queries.items():
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            drain(name)  # plane builds land here once per session

    # two timed passes, per-query MIN: single-run times carry ~2x
    # scheduler/GC jitter on a 32-thread local JVM; the min is the
    # standard steady-state estimate (timeit's rule) and is what a
    # resident session reproduces
    timings: dict[str, float] = {}
    first_fn = next(iter(queries.values()))
    for _ in range(2):
        # throwaway settle execution (r8 verdict ask): in the driver's
        # environment the FIRST timed query of a pass absorbed ~0.7 s
        # of one-time cost (BENCH_r08: view_low_util_ec2 1.34 s vs the
        # 0.66 s committed anchor) even after the full warm pass — run
        # one untimed execution at the top of each pass so pass-start
        # effects (GC settle after the previous sweep, re-JITted noop
        # write path) never land in a recorded number
        first_fn(spark, SF_DIR).write.format("noop").mode(
            "overwrite").save()
        # explicit GC at the pass boundary (the JMH rule): a full
        # 183-query pass leaves the heap loaded with collectable
        # garbage, and whichever query allocates into it first absorbs
        # a multi-second major GC — measured r9: the 2nd timed query
        # read 3.1 s in every sweep vs 0.2 s after an explicit gc;
        # the pause must happen here, not inside a recorded number.
        # r12: the GC also triggers ContextCleaner to enqueue a full
        # pass's worth of shuffle/broadcast cleanups, which drain on a
        # background thread DURING the first timed queries (the
        # residual pass-start inflation after the codegen-cache fix) —
        # give the cleaner a moment plus one more settle execution so
        # the drain never lands inside a recorded number
        spark._jvm.System.gc()
        time.sleep(1.0)
        first_fn(spark, SF_DIR).write.format("noop").mode(
            "overwrite").save()
        for name, fn in queries.items():
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            el = time.perf_counter() - t0
            # a plane (re)build that fired inside a TIMED execution is
            # subtracted from the query's number (it is already priced
            # on its own plane row) — per-key numbers measure the query
            el = round(max(el - drain(name), 0.0), 4)
            if name not in timings or el < timings[name]:
                timings[name] = el

    query_total = round(sum(timings.values()), 4)
    plane_total = round(sum(planes.values()), 4)
    # plane rows + query rows = the sweep total: one-time session-plane
    # builds are now PRICED (r10's "value" never included them — they
    # hid inside untimed warm passes), so value is not directly
    # comparable to pre-r11 totals; use query_sec for that comparison
    total = round(query_total + plane_total, 4)
    # the driver records only a ~1.9 KB TAIL of stdout (BENCH_r05
    # captured 69 of 156 entries and parsed null), so the one-line
    # contract JSON must FIT: print the slowest BENCH_TOP queries
    # (what a perf reader inspects) and write the complete per-query
    # map to bench_results/ on every run. Casual runs write the
    # uncommitted last_bench_* name so they can never clobber the
    # committed regression anchors; sweep runs set
    # SPARK_GRAFT_BENCH_COMMIT=1 to write the canonical
    # bench_sf{sf}.json that scripts/gen_scaling.py consumes.
    canonical = os.environ.get("SPARK_GRAFT_BENCH_COMMIT") == "1"
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_results",
        ("bench_sf{}.json" if canonical else "last_bench_sf{}.json")
        .format(_sf_from_dir(SF_DIR)))
    payload = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": {**timings,
                    **{f"plane:{k}": v for k, v in planes.items()}},
        "query_sec": query_total,
        "plane_sec": plane_total,
        "plane_trigger": plane_trigger,
        "fixture_cache": fixture_cache,
        "sf": _sf_from_dir(SF_DIR),
    }
    try:
        os.makedirs(os.path.dirname(full_path), exist_ok=True)
        with open(full_path, "w") as f:
            json.dump(payload, f)
    except OSError:
        pass  # read-only checkout: stdout line still carries the summary
    top = dict(sorted(payload["queries"].items(),
                      key=lambda kv: -kv[1])[:BENCH_TOP])
    sys.stdout.flush()
    os.dup2(real_stdout, 1)
    os.close(real_stdout)
    print(json.dumps({**payload,
                      "queries": top,
                      "n_queries": len(timings),
                      "queries_full": "bench_results/"}))
    spark.stop()


if __name__ == "__main__":
    main()
