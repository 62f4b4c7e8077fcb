"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload flagship_batch --seed 1 --seconds 12 --trace 0

Run from the repository root. Inputs are generated from the seed in a
separate process (so generation neither counts as set-up nor inflates
the memory metric) and cached by seed under ``perfbench/_work``. Spark
runs ``local[nproc]`` with BLAS/OpenMP pinned to one thread per task.

End-to-end times are normalized by a host CPU reference timed between
operations (``tracing.host_ref_s``; README.md says why).

``--trace 0`` prints every end-to-end metric, ``--trace 1`` every
per-layer metric (names and units come from ``BENCHMARK.json``); a layer
the workload does not call reports 0. The last stdout line is the result
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries host and input facts and sample counts. Traced runs also write
their spans to ``perfbench/_work/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_SETUPS = 3
# no measured operation (nor a traced run's extra session, such as the
# local[1] one) starts after this many seconds of a run; in a traced run
# the untraced session starts no later than the second and none
# of its operations after the third; late work is skipped and reports 0.
# Checks and shutdown then still finish inside the 180 s a run may take.
LOOP_DEADLINE_S = 110
UNTRACED_START_DEADLINE_S = 120
UNTRACED_DEADLINE_S = 135


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", default="full", choices=("full", "smoke"), help="input size")
    p.add_argument("--work-dir", default=os.path.join(HERE, "_work"))
    return p.parse_args(argv)


def pin_environment(work_dir: str) -> None:
    """Set before the JVM or any worker starts: workers inherit it."""
    # one BLAS thread per task: Spark's task parallelism owns the cores
    for v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[v] = "1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
    )
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    sys.path[:0] = [ROOT, HERE]


def load_catalogue() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
        "workloads": [w["name"] for w in bench["workloads"]],
    }


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_sha() -> str:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() or "unknown"


def generate_inputs(args, n: int) -> tuple[str, dict]:
    code = (
        "import json, sys; from inputs import generate; "
        "print(json.dumps(generate(*json.loads(sys.argv[1]))))"
    )
    spec = json.dumps([args.workload, args.size, args.seed, n, args.work_dir])
    out = subprocess.run(
        [sys.executable, "-c", code, spec], capture_output=True, text=True, timeout=600, cwd=ROOT
    )
    if out.returncode != 0:
        raise RuntimeError(f"input generation failed:\n{out.stderr}")
    root, facts = json.loads(out.stdout.strip().splitlines()[-1])
    return root, facts


class Ctx:
    """What a workload needs: the live session, its inputs and the
    tracer. Owns the Spark session lifecycle."""

    def __init__(self, args, n: int, input_dir: str, facts: dict, tracer):
        from inputs import SIZES

        self.args = args
        self.seed = args.seed
        self.nproc = n
        self.size = SIZES[args.size]
        self.input_dir = input_dir
        self.facts = facts
        self.tracer = tracer
        self.work_dir = os.path.join(args.work_dir, f"run-{os.getpid()}")
        self.event_log_dir = os.path.join(self.work_dir, "eventlog")
        self.spark = None
        self.items_per_s = 0.0
        os.makedirs(self.work_dir, exist_ok=True)

    def start_session(self, master: str | None = None, event_log: bool | None = None):
        from seizury_hrv_featuresextraction_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        event_log = bool(self.args.trace) if event_log is None else event_log
        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": str(event_log).lower(),
        }
        if event_log:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf["spark.eventLog.dir"] = "file://" + self.event_log_dir
            # one plain JSON-lines file per application
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        self.spark = get_spark(app_name="perfbench", master=master or f"local[{self.nproc}]", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM (and with it the
    Python worker daemon) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be gone; the wait below decides
        traceback.print_exc()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def reap_descendants(timeout: float = 20.0) -> None:
    from tracing import descendants

    deadline = time.time() + timeout
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    while descendants(os.getpid()) and time.time() < deadline + 10:
        time.sleep(0.2)


def run_ops(wl, n_min: int, until: float, stop_at: float) -> tuple[list[float], list[float], int]:
    """Closed loop: operations until ``until`` and at least ``n_min`` of
    them, none started after ``stop_at`` (perf_counter times). Returns
    (seconds of each completed operation, the host reference timed
    before the first operation and after each, number that raised)."""
    from tracing import host_ref_s

    secs, refs, raised = [], [host_ref_s()], 0
    while len(secs) + raised < n_min or time.perf_counter() < until:
        try:
            secs.append(wl.op())
        except Exception:  # one failed operation must not end the run
            traceback.print_exc()
            raised += 1
        refs.append(host_ref_s())
        if time.perf_counter() > stop_at or raised > 3:
            break
    return secs, refs, raised


def measure(args, ctx, wl, catalogue) -> tuple[dict, dict, int, int, bool]:
    from tracing import RssSampler, event_log_metrics, host_ref_s, median, normalized

    tracer = ctx.tracer
    trace = bool(args.trace)
    started = time.perf_counter()
    setup_s, session_s, setup_refs = [], [], [host_ref_s()]
    for _ in range(N_SETUPS):
        with tracer.span("setup") as s:
            with tracer.span("session.get_spark") as g:
                ctx.start_session()
            with tracer.span("warmup"):
                wl.warmup()
        setup_refs.append(host_ref_s())
        setup_s.append(s["end"] - s["start"])
        session_s.append(g["end"] - g["start"])
    with tracer.span("prime"):
        wl.prime()
    # the probes run in the primed session, so none pays its cold start
    layer = wl.probe_layers() if trace else {}
    ctx.spark.sparkContext.setJobGroup("measure", "measured operations")
    with RssSampler() as rss:
        secs, refs, raised = run_ops(wl, 1, time.perf_counter() + args.seconds, started + LOOP_DEADLINE_S)
    ctx.spark.sparkContext.setJobGroup("post", "after measurement")
    op_norm_s = normalized(median(secs), median(refs)) if secs else 0.0
    ctx.items_per_s = wl.items / op_norm_s if secs else 0.0
    e2e = {
        "setup_s": normalized(median(setup_s), median(setup_refs)),
        "items_per_s": ctx.items_per_s,
    }
    samples = {
        "setups_s": [round(x, 3) for x in setup_s],
        "setup_ref_ms": [round(r * 1000.0, 2) for r in setup_refs],
        "op_s": [round(dt, 3) for dt in secs],
        "op_ref_ms": [round(r * 1000.0, 2) for r in refs],
        "peak_rss_mb": round(rss.peak_mb, 1),
    }

    if trace:
        layer["session.start_s"] = median(session_s)
        layer["mem.peak_rss_mb"] = rss.peak_mb
        layer["op.wall_p50_ms"] = median(secs) * 1000.0
        layer["host.ref_ms"] = median(refs) * 1000.0
        ctx.stop_session()
        ev = event_log_metrics(ctx.event_log_dir, {"measure"})
        n_ops = max(len(secs), 1)
        layer["shuffle.write_bytes"] = ev["shuffle_write_bytes"] / n_ops
        layer["jvm.gc_s"] = ev["gc_s"] / n_ops
        layer["task.max_over_median"] = ev["max_over_median"]
        samples["event_log_jobs"] = ev["jobs"]
        if time.perf_counter() - started < LOOP_DEADLINE_S:
            wl.after_session(layer)
        # tracing overhead: the traced operations (spans and event log on)
        # against as many untraced ones in a fresh session without the
        # event log, set up and primed the same way, both normalized;
        # skipped (0) when the run is late
        untraced, untraced_refs = [], []
        if time.perf_counter() - started < UNTRACED_START_DEADLINE_S:
            tracer.enabled = False
            ctx.start_session(event_log=False)
            wl.warmup()
            wl.prime()
            untraced, untraced_refs, untraced_raised = run_ops(wl, len(secs), 0.0, started + UNTRACED_DEADLINE_S)
            tracer.enabled = True
            raised += untraced_raised
        layer["trace.overhead_ms"] = (
            (op_norm_s - normalized(median(untraced), median(untraced_refs))) * 1000.0 if secs and untraced else 0.0
        )
        samples["untraced_op_s"] = [round(dt, 3) for dt in untraced]
        metrics = {name: float(layer.get(name, 0.0)) for name in catalogue[1]}
        unknown = set(layer) - set(catalogue[1])
    else:
        metrics = {name: float(e2e[name]) for name in catalogue[0]}
        unknown = set(e2e) - set(catalogue[0])
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")

    # every completed operation (priming, measured, untraced, local[1])
    # recorded one observation; all of them are checked
    t_check = time.perf_counter()
    try:
        wl.check()
    except Exception:
        traceback.print_exc()
        wl.fail("correctness check raised")
    attempted = raised + len(wl.observed)
    failed = raised + len(wl.failed_ops)
    correct = not wl.errors and failed == 0 and bool(secs)
    for e in wl.errors:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    samples["phase_s"] = {
        "setup": sum(setup_s),
        "run": t_check - started - sum(setup_s),
        "check": time.perf_counter() - t_check,
    }
    return metrics, samples, attempted, failed, correct


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "seizury_hrv_featuresextraction_spark")):
        print("perfbench: engine package not found next to perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    catalogue = load_catalogue()
    if args.workload not in catalogue["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.makedirs(args.work_dir, exist_ok=True)
    pin_environment(args.work_dir)
    n = nproc()
    input_dir, input_facts = generate_inputs(args, n)

    import numpy
    import pyspark

    from tracing import Tracer
    from workloads import WORKLOADS

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}-{os.getpid()}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    ctx = Ctx(args, n, input_dir, input_facts, tracer)
    wl = WORKLOADS[args.workload](ctx)
    try:
        metrics, samples, attempted, failed, correct = measure(args, ctx, wl, catalogue)
    finally:
        ctx.stop_session()
        shutdown_jvm()
        reap_descendants()
        shutil.rmtree(ctx.work_dir, ignore_errors=True)
    facts = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "nproc": n,
        "master": f"local[{n}]",
        "load": "closed loop, 1 client",
        "pyspark": pyspark.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
        "git_sha": git_sha(),
        "input": input_facts,
        "samples": samples,
    }
    if args.trace:
        tracer.dump(os.path.join(args.work_dir, "traces", f"{run_id}.json"), facts)
    units = catalogue[args.trace]
    print(json.dumps({"info": facts}))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
