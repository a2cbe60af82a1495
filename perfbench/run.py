"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl_filter --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It starts a local[4] Spark session
through the package's ``get_spark``, builds the workload's inputs from
``--seed``, runs one cold pass, then times warm passes until ``--seconds``
of pass time have elapsed, checks every output outside the timed window,
and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1``
they are its per-layer metrics, from spans and the Spark event log.

Everything it writes lives under ``.perfbench_work/`` in the checkout and
is removed at exit. See perfbench/README.md for the workloads and
metrics.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

import spans as T  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("crawl_filter", "dedup_rolling", "dq_report"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stop(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, and wait until
    each process has ended."""
    import signal

    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    procs = _descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _load_contract() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _traced_metrics(tracer, wl, passes, log_dir, **measured) -> dict:
    """Per-layer metrics common to every workload, plus the workload's
    own event-log metrics. Per-pass values are totals over the timed
    passes divided by their number."""
    (name,) = os.listdir(log_dir)
    with open(os.path.join(log_dir, name)) as f:
        log = T.parse_event_log(f)
    tot = T.span_totals(log, tracer, passes)
    n = len(passes)
    top = {s.name: s.duration for s in tracer.spans if s.parent is None}
    out = {
        "session.get_spark.s": measured["get_spark_s"],
        "plans.synth.generate.s": top.get("plans.synth.generate", 0.0),
        "operators.minhash_index.build.s":
            top.get("operators.minhash_index.build", 0.0),
        "traced.wall_s": measured["wall_s"],
        # outermost calls only: adaptive_coalesce calls scaled_partitions
        "tuning.s": sum(
            s.duration for s in tracer.within(passes, "tuning")
            if tracer.spans[s.parent].name != "tuning") / n,
        "pass.jobs": tot.jobs / n,
        "pass.stages": tot.stages / n,
        "pass.tasks": tot.tasks / n,
        "pass.executor_cpu_s": tot.cpu_s / n,
        "pass.gc_s": tot.gc_s / n,
        "pass.shuffle_write_bytes": tot.shuffle_write_bytes / n,
        "pass.spill_bytes": tot.spill_bytes / n,
        "pass.python_stage_s": tot.python_stage_s / n,
        "persistent_rdds_leaked": max(wl.leaked),
        "peak_rss_mb": measured["peak_rss_mb"],
    }
    out.update(wl.log_layers(log, passes))
    return out


def main(argv=None) -> int:
    args = _args(argv)
    contract = _load_contract()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return _run(args, contract, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run(args, contract, work) -> int:
    # keep every temporary file (Python, JVM, Spark scratch) in the
    # checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # every JVM (the launcher and the driver): temp files in the work
    # dir, and no hsperfdata file, which HotSpot always puts in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, [
        os.environ.get("JAVA_TOOL_OPTIONS"),
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-XX:-UsePerfData",
    ]))
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    sys.path.insert(1, ROOT)
    try:
        from data_quality_checker_spark.session import get_spark
    except ImportError as exc:
        print(f"perfbench: the package is not importable from {ROOT}: "
              f"{exc}", file=sys.stderr)
        return 2

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        os.makedirs(os.path.join(work, "events"))
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = os.path.join(work, "events")
        # one plain JSON-lines file
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    t = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}", extra_conf=conf)
    get_spark_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        tracer = T.Tracer(spark.sparkContext) if args.trace else T.NullTracer()
        from workloads import WORKLOADS

        from data_quality_checker_spark import tuning

        for fn in tuning.__all__:
            tracer.wrap(tuning, fn, "tuning")
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.seconds,
                                       tracer)
        wl.setup()
        for k in range(-wl.unmeasured, 0):
            wl.run_pass(k)
            wl.after_pass()
        wl.leaked.clear()
        setup_s = time.perf_counter() - T0

        jvm = spark.sparkContext._gateway.proc.pid
        durations, pass_spans, docs, raised = [], [], 0, 0
        k = 0
        while sum(durations) < args.seconds and not wl.exhausted(k):
            t = time.perf_counter()
            try:
                with tracer.span("pass") as sp:
                    docs += wl.run_pass(k)
            except Exception:  # noqa: BLE001 — a failed operation
                print(f"perfbench: pass {k} raised:", file=sys.stderr)
                traceback.print_exc()
                raised += 1
            durations.append(time.perf_counter() - t)
            if sp is not None:
                pass_spans.append(sp)
            wl.after_pass()
            k += 1
        window = sum(durations)

        errors = wl.check()
        for msg in list(errors.values())[:5]:
            print(f"perfbench: check failed: {msg}", file=sys.stderr)
        attempted = k * wl.ops_per_pass
        failed = min(attempted, raised * wl.ops_per_pass + len(errors))

        layer = wl.layers(pass_spans) if args.trace else {}
        tracer.restore()
        tail = T.tail_percentile(durations)
        jvm_kb = _vm_hwm_kb(jvm)
    except BaseException:
        _stop(spark)
        raise
    _stop(spark)
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss

    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(durations),
        "docs_per_s": docs / window,
    }
    if args.trace:
        layer.update(_traced_metrics(
            tracer, wl, pass_spans, os.path.join(work, "events"),
            get_spark_s=get_spark_s, wall_s=e2e["wall_s"],
            # JVM heap growth varies run to run, so it is not gated
            peak_rss_mb=(jvm_kb + py_kb) / 1024))
        wanted = contract["per_layer"]
    else:
        layer = e2e
        wanted = contract["end_to_end"]

    metrics = {}
    for m in wanted:
        # a per-layer metric the workload never reaches reads 0
        metrics[m["name"]] = {"value": float(layer.get(m["name"], 0.0)),
                              "unit": m["unit"]}
    print(f"perfbench: workload={args.workload} seed={args.seed} "
          f"trace={args.trace} passes={[round(d, 3) for d in durations]} "
          f"window_s={window:.3f} wall_s_{tail[0]}={tail[1]:.4f} "
          f"(n={tail[2]}) leaked_rdds={wl.leaked}")
    unknown = sorted(set(layer) - {m["name"] for m in wanted})
    if unknown:
        print(f"perfbench: measured but not in BENCHMARK.json: {unknown}",
              file=sys.stderr)
    print(json.dumps({
        "correct": not errors and not raised,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
