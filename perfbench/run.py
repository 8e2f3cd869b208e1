#!/usr/bin/env python3
"""Benchmark command: one workload, one fresh process, local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last line on stdout is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; everything
else (Spark and JVM output included) goes to stderr.

Protocol of one run (single client, closed loop):

1. make the workload's inputs from the seed (untimed, benchmark work);
2. set up several times (the workload's ``setups``: three where each
   set-up lands inputs, seven where it only starts a session) — a
   fresh ``get_spark`` session plus the workload's landing call into
   an empty ``TMPDIR`` — and report the median as ``setup_s``. The
   first set-up also launches the JVM, which the median leaves out;
   the last session runs the passes;
3. ``cold_pass_s``: the first pass in that session (codegen, plane
   builds, first-touch caches);
4. warm passes until ``--seconds`` have elapsed, at least two, each
   after an explicit JVM GC and a short pause: ``warm_pass_s`` is
   their median. The
   median per-operation latency pooled over them is a per-layer number
   (``query.p50_s``): with a handful of operations of very different
   cost per pass, it jumps between operations from run to run;
5. an untimed correctness pass over every operation; failures and
   exceptions count in ``failed`` (``failed / attempted`` is the
   error rate);
6. peak RSS of the JVM plus this Python process, a per-layer number
   (``memory.peak_rss_mb``): it varied by more than a tenth between
   runs of one workload.

Only calls into the program's public entry points are timed. CPU
seconds are not an end-to-end metric: they proved noisier than wall
time across processes. ``--trace 1`` runs the same protocol, traces
the cold pass and every other warm pass (see spans.py), prints the
per-layer metrics, reports its own overhead as traced minus untraced
warm-pass medians and writes the spans to
``.perfbench/traces/trace_<workload>_<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# warm passes per run at least; a traced run alternates untraced and
# traced warm passes, at least this many each
MIN_WARM_PASSES = 2


def _progress(what: str) -> None:
    print(f"perfbench: {what} at {time.perf_counter() - T_START:.1f} s", file=sys.stderr)


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _pin_run_state(run_dir: str) -> None:
    """Empty per-run TMPDIR and SPARK_LOCAL_DIRS inside the checkout;
    the JVM's own temp files go there too."""
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # nproc
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{jvm_opts}" pyspark-shell'
    tempfile.tempdir = None


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


class Runner:
    """Runs passes over a workload's operations, counting attempts and
    failures; traced passes record spans and per-key counts."""

    def __init__(self, wl, spark, tracer=None):
        self.wl, self.spark, self.tracer = wl, spark, tracer
        self.attempted = self.failed = 0
        self.errors: dict[str, str] = {}

    def run_pass(self, traced: bool = False, label: str = "pass") -> tuple[float, list]:
        """One pass over the workload's operations; returns the pass wall
        time and [(op, seconds, layer record or None)]."""
        from aws_trusted_advisor_explorer_spark.session import drain_plane_timings

        tr = self.tracer if traced else None
        per = []
        pass_span = tr.open(label) if tr else None
        t_pass = time.perf_counter()
        for name, build in self.wl.ops(self.spark):
            self.attempted += 1
            rec = None
            t0 = time.perf_counter()
            try:
                if tr:
                    rec = self._traced_op(tr, name, build)
                else:
                    df = build()
                    if df is not None:
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # an operation failure is counted, not fatal
                self.failed += 1
                self.errors.setdefault(name, f"{type(e).__name__}: {str(e)[:300]}")
                if tr:
                    tr.unwind(pass_span)
                    tr.end_key()
            el = time.perf_counter() - t0
            planes = drain_plane_timings()
            if rec is not None:
                rec["planes"] = planes
            per.append((name, el, rec))
        wall = time.perf_counter() - t_pass
        if tr:
            tr.close(pass_span)
        return wall, per

    def _traced_op(self, tr, name, build) -> dict:
        key_span = tr.open("key", key=name)
        group = tr.begin_key(name)
        s = tr.open("build")
        df = build()
        rec = {"build_s": tr.close(s)}
        phases = {}
        if df is not None:
            s = tr.open("plan")
            phases = tr.phases(df)
            rec["plan_s"] = tr.close(s, **phases)
        s = tr.open("exec")
        if df is not None:
            df.write.format("noop").mode("overwrite").save()
        rec["exec_s"] = tr.close(s)
        tr.end_key()
        rec.update(phases)
        rec.update(tr.counts(group))
        from aws_trusted_advisor_explorer_spark.session import PLANE_TIMINGS

        for label, sec in PLANE_TIMINGS:
            tr.child(f"plane:{label}", sec)
        tr.close(key_span)
        return rec


def main() -> int:
    args = _parse()
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "aws_trusted_advisor_explorer_spark"))):
        print(f"perfbench: {ROOT} holds no program to benchmark", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    run_dir = os.path.join(ROOT, ".perfbench", "runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    _pin_run_state(run_dir)

    # the JVM inherits fd 1 at launch: park it on stderr so nothing but
    # the result line reaches stdout
    real_stdout = os.dup(1)
    sys.stdout.flush()
    os.dup2(2, 1)
    try:
        result = _run(args, workloads, run_dir)
    finally:
        sys.stdout.flush()
        os.dup2(real_stdout, 1)
        os.close(real_stdout)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _run(args, workloads, run_dir: str) -> dict:
    t_import = time.perf_counter()
    import aws_trusted_advisor_explorer_spark  # noqa: F401  (before the entry module)
    from aws_trusted_advisor_explorer_spark.session import drain_plane_timings, get_spark
    import __spark_entry__  # noqa: F401

    import_s = time.perf_counter() - t_import
    wl = workloads.WORKLOADS[args.workload]()
    wl.make_inputs(run_dir, args.seed)

    _progress("inputs made")
    setup, start, landing, cache, land_files, land_bytes = [], [], [], [], 0, 0
    for i in range(wl.setups):
        tempfile.tempdir = os.path.join(run_dir, f"setup{i}")
        os.makedirs(tempfile.tempdir)
        if i:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        t1 = time.perf_counter()
        wl.land(spark)
        t2 = time.perf_counter()
        # cache-state stamp: landing into the empty TMPDIR records
        # fixture_land rows; a set-up that landed nothing found a warm
        # cache, and "none" marks a workload with nothing to land
        landed = [lb for lb, _ in drain_plane_timings() if lb.startswith("fixture_land:")]
        cache.append(("cold" if landed else "warm") if wl.lands else "none")
        setup.append(t2 - t0)
        start.append(t1 - t0)
        landing.append(t2 - t1)
        land_files, land_bytes = workloads.walk_bytes(tempfile.tempdir)

    _progress(f"set up (fixture cache {', '.join(cache)})")
    tracer = None
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark)
        tracer.open("run", workload=args.workload, seed=args.seed)
    runner = Runner(wl, spark, tracer)
    cold_s, cold_per = runner.run_pass(traced=bool(tracer), label="cold_pass")
    _progress(f"cold pass took {cold_s:.2f} s ("
              + ", ".join(f"{k} {el:.2f}" for k, el, _ in cold_per) + ")")
    untraced, traced = [], []
    t_window = time.perf_counter()
    n = 0
    while (time.perf_counter() - t_window < args.seconds
           or len(untraced) < MIN_WARM_PASSES
           or (tracer and len(traced) < MIN_WARM_PASSES)):
        # pass-boundary GC, and a pause for the cleanup it triggers to
        # drain, so neither lands inside a timing
        spark._jvm.System.gc()
        time.sleep(0.5)
        is_traced = bool(tracer) and n % 2 == 1
        wall, per = runner.run_pass(traced=is_traced, label=f"warm_pass_{n}")
        (traced if is_traced else untraced).append((wall, per))
        _progress(f"warm pass {n} took {wall:.2f} s ("
                  + ", ".join(f"{k} {el:.2f}" for k, el, _ in per) + ")")
        n += 1

    _progress("warm passes done")
    checked, errors = wl.check(spark)
    _progress("checked")
    runner.attempted += checked
    runner.errors.update({f"check:{k}": v for k, v in errors.items()})
    runner.failed += len(errors)
    peak_mb = _jvm_peak_rss_mb(spark) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    for k, v in sorted(runner.errors.items()):
        print(f"perfbench: FAILED {k}: {v}", file=sys.stderr)

    warm = [w for w, _ in untraced]
    lat = [el for _, per in untraced for _, el, _ in per]
    metrics = {
        "setup_s": (statistics.median(setup), "s"),
        "cold_pass_s": (cold_s, "s"),
        "warm_pass_s": (statistics.median(warm), "s"),
    }
    if tracer:
        from layers import per_layer

        metrics = per_layer(args, wl, tracer, dict(
            import_s=import_s, start=start, landing=landing, setup=setup, cache=cache,
            land_files=land_files, land_bytes=land_bytes, cold_s=cold_s,
            cold_per=cold_per, untraced=untraced, traced=traced, peak_mb=peak_mb,
            p50=statistics.median(lat)), ROOT)
    _stop(spark)
    _progress("stopped")
    return {"correct": runner.failed == 0, "attempted": runner.attempted,
            "failed": runner.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


if __name__ == "__main__":
    sys.exit(main())
