"""Benchmark of the wss_spark crawl engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One run starts one Spark session on
``local[nproc]``, sets a workload up from the seed (repeating the input
set-up ``SETUP_REPS`` times), warms it up untimed, then repeats the timed
operation until ``--seconds`` have passed and the workload's ``min_ops``
operations were made, and checks every operation's output. Lines starting
with ``#`` give each metric with its sample count; the last line is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the ``end_to_end`` metrics of ``BENCHMARK.json`` with ``--trace 0``, its
``per_layer`` metrics with ``--trace 1``. The traced run makes a traced and
then an untraced operation, so it also reports the tracing overhead, and
writes its spans to ``.bench_out/``.

Scratch data lives in ``.bench_work/`` in the checkout and is removed at the
end. The engine is imported from the checkout, so outside one the run fails
before printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both the JVM
    and its Python workers to end."""
    from py4j.protocol import Py4JError

    from perfbench.stats import descendants

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Py4JError:
        pass
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        os.kill(pid, 9)


def _run(args, work: str, spec: dict) -> tuple[list[str], dict]:
    from perfbench import stats, trace, workloads

    lines: list[str] = []
    t0 = time.perf_counter()
    spark = workloads.start_session(work)
    session_s = time.perf_counter() - t0
    try:
        tracer = trace.Tracer(spark) if args.trace else None
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)
        prep_s = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            wl.prepare()
            prep_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t

        # traced first: the polite crawl's odd waves compact the seen
        # store, and its traced operation should include that layer
        kinds = [True, False] if args.trace else [False]
        ops: dict[bool, list] = {k: [] for k in kinds}
        attempted = failed = 0
        t_start = time.perf_counter()
        while not failed:
            for traced in kinds:
                attempted += 1
                try:
                    ops[traced].append(wl.op(traced))
                except Exception:
                    failed += 1
                    lines.append("# FAILED operation:\n# " + traceback.format_exc()
                                 .rstrip().replace("\n", "\n# "))
                    break
            # the traced run only needs one op of each kind
            if (time.perf_counter() - t_start >= args.seconds
                    and len(ops[False]) >= (1 if args.trace else wl.min_ops)):
                break
        # read before the output checks, whose collects and re-renders
        # would otherwise count as the program's memory
        rss_mb, rss_parts = stats.peak_rss_mb(os.getpid())
        for kind_ops in ops.values():
            for op in kind_ops:
                errs = wl.check(op, kind_ops[0])
                if errs:
                    failed += 1
                    lines += [f"# FAILED check: {e}" for e in errs]
        n_failed_tasks = trace.failed_tasks(spark)
        if n_failed_tasks:
            lines.append(f"# FAILED tasks: {n_failed_tasks}")
        attempted += n_failed_tasks
        failed += n_failed_tasks
        if tracer is not None:
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        _stop(spark)

    prep_med = statistics.median(prep_s)
    setup_s = session_s + prep_med + warm_s
    lines.append(f"# workload {args.workload} seed {args.seed} "
                 f"nproc {workloads.N_CPU} trace {args.trace}: "
                 f"{attempted} operations attempted, {failed} failed")
    lines.append(f"# setup_s = session {session_s:.3f} s + median input set-up "
                 f"{prep_med:.3f} s (n={len(prep_s)}: "
                 f"{', '.join(f'{x:.3f}' for x in prep_s)}) + warm-up {warm_s:.3f} s")
    untraced = ops[False]
    if not all(ops.values()):
        return lines, {"correct": False, "attempted": attempted,
                       "failed": failed, "metrics": {}}
    values = {"setup_s": setup_s}
    if args.trace:
        values.update(_layer_values(wl, untraced, ops[True], lines))
    else:
        values.update(_e2e_values(untraced, rss_mb, rss_parts, lines))
    metrics = {}
    for m in spec["per_layer" if args.trace else "end_to_end"]:
        name = m["name"]
        if args.trace and name in wl.not_measured:
            # the contract wants every per-layer metric; a layer this
            # workload does not exercise is reported as 0 and marked here
            lines.append(f"# layer {wl.name} {name} = n/a (layer not "
                         "exercised by this workload; reported as 0)")
            value = 0.0
        elif name in values and values[name] is None:
            lines.append(f"# layer {wl.name} {name} = n/a (its denominator "
                         "was 0 in every traced operation; reported as 0)")
            value = 0.0
        elif name in values:
            value = values[name]
        else:
            raise KeyError(f"metric {name} of BENCHMARK.json was not "
                           f"computed on {wl.name}")
        metrics[name] = {"value": float(value), "unit": m["unit"]}
    return lines, {"correct": failed == 0, "attempted": attempted,
                   "failed": failed, "metrics": metrics}


def _e2e_values(ops, rss_mb: float, rss_parts: dict, lines: list[str]) -> dict:
    from perfbench.stats import n_beyond, percentile, tail_percentile

    run_s = [o.run_s for o in ops]
    rate = [o.urls / o.run_s for o in ops]
    waves = [w for o in ops for w in o.waves]
    p50, n = percentile(waves, 50)
    p90, _ = percentile(waves, 90)
    tail = tail_percentile(n)
    lines.append(f"# run_s {statistics.median(run_s):.4f} s: median of n={len(run_s)} "
                 f"operations ({', '.join(f'{x:.3f}' for x in run_s)})")
    for stage in ops[0].stages:
        xs = [o.stages[stage] for o in ops]
        lines.append(f"#   stage {stage} {statistics.median(xs):.4f} s: median "
                     f"of n={len(xs)} ({', '.join(f'{x:.3f}' for x in xs)})")
    lines.append(f"# urls_per_s {statistics.median(rate):.2f} 1/s: median of "
                 f"n={len(rate)}; urls fetched per operation {[o.urls for o in ops]}")
    lines.append(f"# wave_s_p50 {p50:.4f} s, wave_s_p90 {p90:.4f} s over n={n} "
                 f"pooled waves ({n_beyond(n, 90)} beyond p90; highest "
                 f"percentile with >=10 beyond: {tail if tail else 'none'})")
    lines.append(f"# peak_rss_mb {rss_mb:.1f} MB: sum of VmHWM over driver, JVM "
                 "and Python workers (" + ", ".join(
                     f"{k} {v:.1f}" for k, v in sorted(rss_parts.items())) + ")")
    return {"run_s": statistics.median(run_s),
            "urls_per_s": statistics.median(rate),
            "wave_s_p50": p50, "wave_s_p90": p90, "peak_rss_mb": rss_mb}


def _layer_values(wl, untraced, traced, lines: list[str]) -> dict:
    keys = sorted({k for o in traced for k in o.layer})
    # a ratio is None in an op where its denominator was 0: the median of
    # the other ops, or None when it is undefined in all of them
    values = {}
    for k in keys:
        xs = [o.layer[k] for o in traced if o.layer.get(k) is not None]
        values[k] = statistics.median(xs) if xs else None
    for k, xs in wl.setup_layer.items():
        values[k] = statistics.median(xs)
        lines.append(f"# layer {wl.name} {k} = {values[k]:.6g} (median of "
                     f"n={len(xs)} input set-ups)")
    plain = statistics.median(o.run_s for o in untraced)
    with_trace = statistics.median(o.run_s for o in traced)
    values["trace.overhead_ratio"] = with_trace / plain - 1.0
    lines.append(f"# tracing overhead: traced run_s {with_trace:.3f} s "
                 f"(n={len(traced)}) vs untraced {plain:.3f} s "
                 f"(n={len(untraced)}): "
                 f"trace.overhead_ratio = {values['trace.overhead_ratio']:.6g}")
    for k in keys:
        if k not in wl.not_measured and values[k] is not None:
            n = sum(o.layer.get(k) is not None for o in traced)
            lines.append(f"# layer {wl.name} {k} = {values[k]:.6g} (median "
                         f"of n={n} traced operations)")
    return values


def main(argv=None) -> int:
    args = _parse(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # every scratch file of Spark, its Python workers and tempfile stays in
    # the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.path.join(work, "tmp")
    sys.path.insert(0, ROOT)
    try:
        lines, result = _run(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
