"""kgbench: the repository benchmark for the rdf_go_spark engine.

    python3 kgbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Runs one workload in a fresh process on ``local[<cpus>]`` and prints, as
the last line of standard output, one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs traced and untraced passes in
turn and reports the per-layer metrics.  Workloads, metrics and the
known-defect ledger are described in kgbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".kgbench_cache")
TMP = os.path.join(ROOT, ".kgbench_tmp")


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _hygiene(tmp: str) -> None:
    """Environment for the engine's session and its Python workers; all
    scratch space lives in this run's own directory."""
    for d in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(tmp, d))
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(tmp, "warehouse"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "SPARK_GRAFT_JAVA_OPTS": f"-Djava.io.tmpdir={tmp}/tmp",
        "TMPDIR": os.path.join(tmp, "tmp"),
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        # the status store must keep every job and SQL execution of a run
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            "--conf spark.sql.ui.retainedExecutions=100000",
            "pyspark-shell"]),
    })


def inputs(workload: str, seed: int) -> tuple[str, dict, dict]:
    """Generated inputs and expected results, cached per (workload, seed)."""
    import expect
    import gen

    size = "-".join(f"{k}{v}" for k, v in sorted(gen.sizes(workload).items()))
    d = os.path.join(CACHE, f"{workload}-s{seed}-{size}")
    if not os.path.exists(os.path.join(d, "expected.json")):
        part = f"{d}.part-{os.getpid()}"
        shutil.rmtree(part, ignore_errors=True)
        os.makedirs(part)
        meta = gen.generate(workload, seed, part)
        expected = expect.EXPECTED[workload](part)
        with open(os.path.join(part, "meta.json"), "w") as f:
            json.dump(meta, f)
        with open(os.path.join(part, "expected.json"), "w") as f:
            json.dump(expected, f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(part, d)
    with open(os.path.join(d, "meta.json")) as f:
        meta = json.load(f)
    with open(os.path.join(d, "expected.json")) as f:
        expected = {k: tuple(v) for k, v in json.load(f).items()}
    return d, meta, expected


def _rounded(d: dict) -> dict:
    return {k: round(v, 2) for k, v in d.items()}


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - the JVM must not outlive the run
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "rdf_go_spark")):
        print(f"kgbench: no rdf_go_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import gen

    if args.workload not in gen.SIZES:
        print(f"kgbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    in_dir, meta, expected = inputs(args.workload, args.seed)

    tmp = os.path.join(TMP, f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    _hygiene(tmp)
    spark = None
    try:
        import proc
        import report
        import spans
        import workloads
        from rdf_go_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"kgbench-{args.workload}")
        spark.range(1).count()
        session_s = time.perf_counter() - t0
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

        tracer = spans.Tracer(spark, False)
        ctx = workloads.Ctx(spark, tracer, in_dir, os.path.join(tmp, "work"),
                            expected, meta, proc.CpuClock(jvm_pid))
        if args.trace:
            report.install_wrappers(tracer)
        run_pass, warm, min_passes = workloads.WORKLOADS[args.workload]
        # a traced run alternates untraced and traced passes, at least one
        # of each, after the same warm-up passes
        min_traced = 1 if args.trace else 0
        if args.trace:
            min_passes = 1
        build = None
        marks = [("session", time.perf_counter())]
        if args.workload == "traverse":
            # traverse's graph tables are part of its set-up, traced too
            tracer.enabled = bool(args.trace)
            build = workloads.traverse_build(ctx)
            tracer.enabled = False
            marks.append(("graph build", time.perf_counter()))
        for k in range(warm):
            run_pass(ctx, -1 - k)
            marks.append((f"warm-up pass {k}", time.perf_counter()))
        setup_s = time.perf_counter() - t0
        last = t0
        for what, at in marks:
            print(f"kgbench: set-up {what} {at - last:.2f} s", file=sys.stderr)
            last = at

        sampler = proc.RssSampler(jvm_pid)
        sampler.start()
        passes, traced = [], []
        deadline = time.perf_counter() + args.seconds
        k = 0
        while (time.perf_counter() < deadline
               or len(passes) < min_passes
               or len(traced) < min_traced):
            tracer.enabled = bool(args.trace) and k % 2 == 1
            tracer.phase = k
            p = run_pass(ctx, k)
            (traced if tracer.enabled else passes).append(p)
            k += 1
        tracer.enabled = False
        print(f"kgbench: session {session_s:.2f} s, set-up {setup_s:.2f} s, "
              f"pass wall {[round(p.wall, 2) for p in passes]}, "
              f"pass cpu {[round(p.cpu, 2) for p in passes]}, "
              f"cpu by kind {[_rounded(p.kinds) for p in passes]}, "
              + (f"build wall {build.wall:.2f} cpu {_rounded(build.kinds)}, "
                 if build else "") +
              f"traced wall {[round(p.wall, 2) for p in traced]}, "
              f"ops {[p.ops for p in passes if p.ops]}", file=sys.stderr)
        peak_rss = sampler.stop()

        if args.trace:
            metrics = report.layer_metrics(spark, tracer, passes, traced,
                                           build, session_s, peak_rss,
                                           args.workload)
        else:
            metrics = report.end_to_end(setup_s, passes, build)
        if args.workload == "dedup" and not args.trace:
            # not in BENCHMARK.json: the defect it shows is a failed check
            metrics["fail_frac"] = {
                "value": ctx.failed / max(1, ctx.attempted), "unit": "ratio"}
            metrics["peak_rss_mb"] = {"value": peak_rss / 2**20, "unit": "MB"}
        result = {"correct": ctx.failed == 0, "attempted": ctx.attempted,
                  "failed": ctx.failed, "metrics": metrics}
        if args.trace:
            report.write_trace(os.path.join(ROOT, ".kgbench_traces"),
                               args, tracer, passes, traced, result)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
