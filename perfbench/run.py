"""Run one benchmark workload and print its metrics as one JSON line.

Usage, from the repository root::

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 8 \\
        --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
workload with span tracing on and prints the per-layer metrics. The last
line of standard output is ``{"correct", "attempted", "failed",
"metrics"}``. The exit code is 0 when every operation succeeded and every
view matched its batch recompute, 1 when any did not, and 2 when the run
could not start (for example, when the package is not importable).

Everything the run writes stays under ``.perfbench/`` in the repository
root: a scratch directory per run for inputs, state, feed, checkpoints
and Spark's local files (deleted at the end), and a record per run with
every sample, the environment and, for traced runs, the spans.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: bootstraps per run; ``setup_s`` is their median
SETUPS = 3
#: untimed steps run after set-up, before the timed window
WARMUP_STEPS = 1
#: the timed window has at least this many steps, so every median has two
#: samples and a traced run has a traced and an untraced step
MIN_STEPS = 2
#: stop starting new timed steps once the whole run has taken this long,
#: so that a run on a slow machine still ends well inside 180 s
RUN_BUDGET_S = 100.0

END_TO_END = {
    "setup_s": "s",
    "write_p50_s": "s",
    "refresh_p50_s": "s",
    "changes_per_s": "1/s",
    "read_p50_s": "s",
    "peak_rss_mb": "MB",
    "state_bytes_ratio": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_environment(scratch: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``scratch``,
    and give the driver JVM a fixed heap and no console progress bar.
    Must run before the JVM starts. ``-XX:-UsePerfData`` stops the JVM
    from writing its perf-counter file to the system ``/tmp``. The heap
    starts at its 2 GB maximum with a fixed 512 MB young generation, so
    the collector does not size the generations differently from run to
    run; with adaptive sizing, every metric of a run moved together by up
    to a third."""
    local = os.path.join(scratch, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = local
    java_opts = (f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"
                 " -Xms2g -Xmn512m")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-memory 2g",
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={scratch}/warehouse",
        "--conf " + shlex.quote(f"spark.driver.extraJavaOptions={java_opts}"),
        "pyspark-shell",
    ])


def stop_spark(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to
    exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()     # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, run_dir: str, scratch: str) -> tuple[dict, int, int, bool]:
    from perfbench import envinfo, layers
    from perfbench.tracer import Tracer, instrument, median
    from perfbench.workloads import WORKLOADS
    from qvarn_mr_spark.session import get_spark

    tracer = Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](args.seed, tracer)
    t_start = time.perf_counter()
    env = {"start": envinfo.snapshot()}
    wl.generate(os.path.join(scratch, "inputs"))
    phases = {"generate": time.perf_counter() - t_start}

    setup_times, spark = [], None
    for b in range(SETUPS):
        tracer.phase = f"setup{b}"
        boot_dir = os.path.join(scratch, f"boot{b}")
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{wl.cores}]",
                          shuffle_partitions=wl.cores)
        if b == 0:
            tracer.record("session.boot", t0, time.perf_counter())
            spark.sparkContext.setLogLevel("ERROR")
            tracer.attach(spark.sparkContext)
            if args.trace:
                instrument(tracer)
        wl.bootstrap(spark, boot_dir)
        setup_times.append(time.perf_counter() - t0)
        if b:
            shutil.rmtree(os.path.join(scratch, f"boot{b - 1}"))

    t_setup_end = time.perf_counter()
    attempted = 0
    errors: list[str] = []
    steps, walls = [], []
    t_window = time.perf_counter()
    try:
        tracer.phase = "warmup"
        for i in range(WARMUP_STEPS):
            tracer.step = i
            st = wl.step(i)
            attempted += st.attempted
            errors += st.errors
        tracer.phase = "timed"
        t_window = time.perf_counter()
        phases["warmup"] = t_window - t_setup_end
        i = WARMUP_STEPS
        while True:
            n = len(steps)
            if (time.perf_counter() - t_window >= args.seconds
                    and n >= MIN_STEPS) or (
                    time.perf_counter() - t_start >= RUN_BUDGET_S and n):
                break
            tracer.step = i
            # the traced run leaves every other step untraced, so it can
            # report what tracing itself costs
            tracer.enabled = bool(args.trace) and n % 2 == 0
            t = time.perf_counter()
            st = wl.step(i)
            walls.append((time.perf_counter() - t, tracer.enabled))
            tracer.enabled = bool(args.trace)
            steps.append(st)
            attempted += st.attempted
            errors += st.errors
            i += 1
        window_s = time.perf_counter() - t_window
    except Exception:
        traceback.print_exc()
        attempted += 1
        errors.append("step raised: " + traceback.format_exc(limit=1))
        window_s = time.perf_counter() - t_window

    state_bytes, source_bytes = wl.state_bytes(), wl.source_bytes()
    source_rows = wl.source_rows()
    jvm_hwm_kb = envinfo.jvm_hwm_kb()
    checked = False
    if steps and not errors:
        tracer.phase, tracer.enabled = "check", False
        t = time.perf_counter()
        bad_views = wl.check()
        phases["check"] = time.perf_counter() - t
        attempted += len(wl.config())
        errors += bad_views
        checked = True
    failed = len(errors)
    env["end"] = envinfo.snapshot()
    env["steal_share"] = envinfo.steal_share(env["start"], env["end"])
    env.update(envinfo.versions(spark), seed=args.seed,
               workload=args.workload, trace=args.trace, local_k=wl.cores)

    refresh = [s.refresh for s in steps]
    changes = sum(s.changes for s in steps)
    py_rss_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    e2e = {
        "setup_s": median(setup_times),
        "write_p50_s": median(w for s in steps for w in s.writes),
        "refresh_p50_s": median(refresh),
        "changes_per_s": changes / sum(refresh) if refresh else 0.0,
        "read_p50_s": median(r for s in steps for r in s.reads),
        "peak_rss_mb": (jvm_hwm_kb + py_rss_kb) / 1024.0,
        "state_bytes_ratio": state_bytes / source_bytes,
    }
    record = {
        "env": env, "errors": errors, "checked": checked,
        "end_to_end": e2e, "setup_times": setup_times,
        "phases_s": {**phases, "window": window_s,
                     "total": time.perf_counter() - t_start},
        "check_s": getattr(wl, "check_s", {}),
        "steps": [vars(s) for s in steps],
        "step_walls": walls, "state_bytes": state_bytes,
        "source_bytes": source_bytes, "jvm_hwm_kb": jvm_hwm_kb,
        "python_maxrss_kb": py_rss_kb,
    }
    if args.trace:
        bytes_per_row = source_bytes / source_rows
        traced_changes = sum(s.changes for s, (_, t) in zip(steps, walls)
                             if t)
        per = layers.per_layer(
            tracer.spans, SETUPS, wl.refresh_span,
            traced_changes * bytes_per_row, walls)
        record["per_layer"] = per
        record["self_time_s"] = layers.self_time_by_layer(tracer.spans)
        tracer.write(os.path.join(run_dir, "spans.jsonl"))
        metrics = {n: {"value": per[n], "unit": layers.unit(n)}
                   for n in layers.NAMES}
    else:
        metrics = {n: {"value": e2e[n], "unit": u}
                   for n, u in END_TO_END.items()}
    with open(os.path.join(run_dir, "result.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    tracer.unwrap_all()
    stop_spark(spark)
    ok = checked and not errors
    return metrics, attempted, failed, ok


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        from perfbench.workloads import WORKLOADS
    except ImportError:
        traceback.print_exc()
        print("perfbench: cannot import the package under test from "
              f"{ROOT}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    stamp = time.strftime("%Y%m%dT%H%M%S")
    run_dir = os.path.join(
        ROOT, ".perfbench", "runs",
        f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}"
        f"-{os.getpid()}")
    scratch = os.path.join(ROOT, ".perfbench", "tmp",
                           os.path.basename(run_dir))
    os.makedirs(run_dir)
    os.makedirs(scratch)
    configure_environment(scratch)
    try:
        metrics, attempted, failed, ok = run(args, run_dir, scratch)
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print(json.dumps({"correct": ok, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
