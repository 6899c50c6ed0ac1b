"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. One process, one client
thread, Spark at ``local[<cpus>]``. Inputs are generated from the
seed during set-up; ops then run in a closed loop for ``--seconds``
of wall time (checks included), each op checked for correct output.
Human-readable figures go to stdout first; the last stdout line is
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` —
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything the run writes stays under
``.bench_work/`` (removed at exit) and ``.bench_out/`` (span dumps)
in the checkout.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Spark's JVM heap: small, fixed-size (the host is shared)
HEAP = "1g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str):
    """The engine's session factory with the benchmark's footprint:
    heap, scratch and temp files kept small and inside the checkout."""
    from dish_data_pipeline_spark.session import _DEFAULT_CONF, get_spark

    n = cpus()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java_opts = " ".join((
        _DEFAULT_CONF["spark.driver.extraJavaOptions"],
        f'"-Djava.io.tmpdir={tmp}"',  # quoted: the path may hold spaces
        "-XX:-UsePerfData",
        # a fixed-size heap: no resizing, so the footprint is steady
        f"-Xms{HEAP}",
    ))
    return get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions": java_opts,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if SparkContext._gateway is not None:
        SparkContext._gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def job_counts(sc, group: str) -> tuple[int, int]:
    """Jobs and tasks Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            st = tracker.getStageInfo(s)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


def measure(args, work: str) -> dict:
    from perfbench import layers, stats
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Ctx

    report = []
    t = time.perf_counter()
    spark = start_spark(work)
    try:
        session_s = time.perf_counter() - t
        sc = spark.sparkContext
        tracer = Tracer() if args.trace else None
        # inputs only need the seed's identity; a bounded value keeps
        # every generator's integer arithmetic inside 64 bits
        ctx = Ctx(spark, work, args.seed % 2**31, tracer)
        wl = WORKLOADS[args.workload](ctx)

        sc.setJobGroup("setup", "set-up")
        t = time.perf_counter()
        wl.set_up()
        set_up_s = time.perf_counter() - t
        t = time.perf_counter()
        problems = wl.warm_up()
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - PROCESS_T0
        # the run-level check (warm-up ops, the oracle pass) is one attempt
        attempted, failed = 1, int(bool(problems))
        if problems:
            report.append(f"warm-up check failed: {problems}")

        # keyed by "was this op traced"
        lat: dict[bool, list[float]] = {False: [], True: []}
        kinds: dict[bool, list[str | None]] = {False: [], True: []}
        rows = {False: 0, True: 0}
        ok_ops: dict[bool, list[int]] = {False: [], True: []}
        i = 0
        t_meas = time.perf_counter()
        while (time.perf_counter() - t_meas < args.seconds
               or i % wl.cycle_len or i < wl.min_ops):
            inp = wl.next_input(i)
            # whole cycles alternate between traced and untraced
            traced = tracer is not None and (i // wl.cycle_len) % 2 == 0
            if traced:
                layers.install(tracer)
                tracer.op, tracer.active = i, True
            sc.setJobGroup(f"op{i}", "op")
            attempted += 1
            t = time.perf_counter()
            try:
                out = wl.op(i, inp)
                op_s = time.perf_counter() - t
            except Exception:
                report.append(f"op {i} raised:\n{traceback.format_exc()}")
                failed += 1
                op_s = None
            finally:
                if traced:
                    tracer.active = False
                    tracer.uninstall()
                sc.setJobGroup("check", "check")
            if op_s is not None:
                if traced:
                    jobs, tasks = job_counts(sc, f"op{i}")
                    ctx.note(i, "spark.jobs", jobs)
                    ctx.note(i, "spark.tasks", tasks)
                bad = wl.check(i, inp, out)
                if bad:
                    failed += 1
                    report.append(f"op {i} check failed: {bad}")
                else:
                    lat[traced].append(op_s)
                    kinds[traced].append(wl.kind(inp))
                    ok_ops[traced].append(i)
                    rows[traced] += wl.rows(inp)
            wl.after_op(i)
            i += 1

        pids = [os.getpid(), spark._jvm.java.lang.ProcessHandle.current().pid()]
        rss_mb = sum(vm_hwm_kb(p) for p in pids) / 1024.0
        stored = wl.stored_bytes_per_row()
    finally:
        stop_spark(spark)

    def summary(traced: bool) -> stats.Summary:
        return stats.summarize(lat[traced], rows[traced],
                               kinds[traced] if wl.latency_per_cycle else None)

    # end-to-end figures come from untraced ops (a traced run
    # alternates traced and untraced ones)
    key = not lat[False]
    s = summary(key)
    report.append(
        f"{args.workload} seed={args.seed}: n={s.n} p50={s.p50_s:.4f}s "
        f"tail=p{s.tail_pct:.1f} {s.tail_s:.4f}s "
        f"ops/s={s.ops_per_s:.3f} rows/s={s.rows_per_s:.1f} "
        f"setup={setup_s:.3f}s [session {session_s:.2f} set-up {set_up_s:.2f} "
        f"warm-up {warm_s:.2f}] "
        f"rss={rss_mb:.0f}MB stored={stored:.1f}B/row "
        f"fail_ratio={failed / attempted:.4f} ({failed}/{attempted})"
    )
    report.append("op latencies: " + " ".join(f"{x:.3f}" for x in lat[key]))
    by_kind: dict[str, list[float]] = {}
    for k, x in zip(kinds[key], lat[key]):
        if k:
            by_kind.setdefault(k, []).append(x)
    if by_kind:
        report.append("per kind: " + " ".join(
            f"{k}_p50_s={statistics.median(v):.4f}s (n={len(v)})"
            for k, v in sorted(by_kind.items())))

    if tracer is None:
        metrics = {
            "latency_p50_s": (s.p50_s, "s"),
            "latency_tail_s": (s.tail_s, "s"),
            "ops_per_s": (s.ops_per_s, "1/s"),
            "rows_per_s": (s.rows_per_s, "rows/s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss_mb, "MB"),
            "stored_bytes_per_row": (stored, "bytes/row"),
        }
    else:
        metrics = layers.metrics(tracer, ctx.notes, ok_ops[True])
        metrics["session.start_s"] = (session_s, "s")
        overhead = summary(True).p50_s - s.p50_s if lat[True] else 0.0
        metrics["trace.overhead_s"] = (overhead, "s")
        for name, v in layers.self_time_table(tracer, ok_ops[True]).items():
            report.append(f"self time {name}: {v:.4f}s/op")
        out_dir = os.path.join(ROOT, ".bench_out")
        tracer.dump(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))

    for line in report:
        print(line)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "dish_data_pipeline_spark", "__init__.py")):
        print(f"no engine source under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # temp and Spark scratch files of this process and its children
    # stay in the checkout
    tmp = os.path.join(ROOT, ".bench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
