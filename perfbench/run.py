"""Benchmark entry point.

    python3 perfbench/run.py --workload build|query \
        --seed N --seconds S --trace 0|1

Run it from the repository root. It starts one Spark session at
``local[<cores>]`` in this process, prepares the workload's seeded inputs,
warms up, runs the workload's operation in a closed loop for ``--seconds``
and checks the outputs. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``; the line
before it, starting with ``#``, is a human summary with sample counts.

``--trace 0`` reports the end-to-end metrics and keeps its result in
``.perfbench/results/``, keyed by workload, seed and a hash of the source
files. ``--trace 1`` runs the workload with Spark's event log on and a span
around every call, and reports the per-layer metrics, including the tracing
overhead: traced over untraced, minus 1, against the kept untraced result
with the same key, made first in a process of its own when there is none.
Spans go to ``.perfbench/traces/``.

Host settings, made here so the program itself is unchanged:

* ``local[N]`` with N = the CPUs this process may run on (``nproc``);
* ``NOUS_SPARK_DRIVER_MEM`` = ``HEAP_MB`` megabytes, also the JVM's
  initial heap, touched at start, so the heap is resident in full from the
  start and ``peak_rss_nonheap_mb`` (the tree's peak RSS minus the heap)
  does not move with GC heap sizing;
* ``PYTHONPATH`` starts with the repository root, so Spark's Python
  workers import ``nous_spark`` whatever their working directory;
* ``SPARK_LOCAL_DIRS``, ``TMPDIR``, ``java.io.tmpdir`` and the warehouse
  point into ``.perfbench/``.

Everything the run writes stays under ``.perfbench/`` in the working
directory: the input cache, work directories, Spark's local and temporary
directories, the event logs and the spans.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
# get_spark's default heap (48g) does not fit a 15 GB host
HEAP_MB = 3072
N_PREPARE = 3  # setup_s takes the median of this many preparations


class Context:
    """What a workload needs from the run: session, tracer and paths."""

    def __init__(self, root: str, workload: str, seed: int, cores: int):
        self.seed = seed
        self.cores = cores
        self.state = os.path.join(root, ".perfbench")
        self.cache = os.path.join(self.state, "cache")
        self.work = os.path.join(self.state, "work", workload)
        self.spark = None
        self.tracer = None

    def expect_same(self, key: str, value, fail) -> None:
        """Record ``value`` for (key, seed) on first sight; later runs with
        the same seed must produce the same value."""
        from nous_spark.datagen import DATAGEN_VERSION

        path = os.path.join(self.state, "expect", f"{key}-v{DATAGEN_VERSION}-s{self.seed}.json")
        if os.path.exists(path):
            with open(path) as f:
                seen = json.load(f)
            if seen != value:
                fail(f"{key} differs from an earlier run with seed {self.seed}: {value} vs {seen}")
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(value, f)
        os.replace(path + ".tmp", path)


def configure_environment(root: str, state: str) -> None:
    """Settings that must be in place before the JVM starts."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(state, d), exist_ok=True)
    os.environ["NOUS_SPARK_DRIVER_MEM"] = f"{HEAP_MB}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(state, "spark-local")
    os.environ["TMPDIR"] = os.path.join(state, "tmp")
    # Python workers import nous_spark from the repository root
    paths = [root, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [root, HERE]


def start_session(ctx: Context, traced: bool, log_dir: str):
    from nous_spark.session import get_spark

    tmp = os.path.join(ctx.state, "tmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(ctx.state, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP_MB}m -XX:+AlwaysPreTouch"
        ),
    }
    if traced:
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{log_dir}",
                "spark.eventLog.compress": "false",
            }
        )
    return get_spark(app_name="perfbench", cores=ctx.cores, extra_conf=conf)


def run_phase(cls, ctx: Context, seconds: float, traced: bool, log_dir: str):
    """Set up, warm up, run the timed loop and check; returns the workload
    and its end-to-end metrics."""
    from tracing import RssSampler, Tracer, cpu_ticks

    shutil.rmtree(ctx.work, ignore_errors=True)
    os.makedirs(ctx.work)
    ctx.tracer = Tracer(traced)
    with RssSampler() as rss:
        t0 = time.perf_counter()
        ctx.spark = start_session(ctx, traced, log_dir)
        session_s = time.perf_counter() - t0
        w = cls(ctx)
        w.generate()
        prep = []
        for _ in range(N_PREPARE):
            t0 = time.perf_counter()
            w.prepare()
            prep.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        w.warm_up()
        warm_s = time.perf_counter() - t0
        steal0, total0 = cpu_ticks()
        w.timed(seconds)
        steal1, total1 = cpu_ticks()
        t0 = time.perf_counter()
        w.finish()
        finish_s = time.perf_counter() - t0
        e2e = w.e2e()
        ctx.spark.stop()
        ctx.spark = None
    e2e["setup_s"] = session_s + statistics.median(prep) + warm_s
    e2e["peak_rss_nonheap_mb"] = rss.peak_mb - HEAP_MB
    w.summary.update(
        session_s=session_s,
        prepare_s=statistics.median(prep),
        warm_up_s=warm_s,
        finish_s=finish_s,
        timed_steal_share=(steal1 - steal0) / max(total1 - total0, 1),
    )
    return w, e2e


def shutdown(timeout: float = 30.0) -> None:
    """Stop the JVM and wait for every process this run started to end."""
    from pyspark import SparkContext

    from tracing import process_tree

    tree = [p for p in process_tree(os.getpid()) if p != os.getpid()]
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:  # killed below
                pass
    deadline = time.monotonic() + timeout
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    for pid in tree:  # reap our own children
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def source_hash(root: str) -> str:
    """Hash of the program's and the benchmark's Python sources."""
    files = [os.path.join(root, f) for f in ("__spark_entry__.py", "bench.py")]
    for top in (os.path.join(root, "nous_spark"), HERE):
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(x for x in subdirs if x != "__pycache__")
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    h = hashlib.sha256()
    for path in files:
        h.update(os.path.relpath(path, root).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def result_path(state: str, workload: str, seed: int) -> str:
    key = f"{workload}-s{seed}-{source_hash(os.getcwd())}"
    return os.path.join(state, "results", f"{key}.json")


def untraced_result(args, state: str) -> tuple[dict | None, bool]:
    """(result, fresh): the untraced result the tracing overhead is measured
    against: the kept result of an untraced run of the same workload, seed
    and sources, or else a fresh one (``fresh``) in a process of its own."""
    path = result_path(state, args.workload, args.seed)
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f), False
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    child = subprocess.run(cmd, stdout=subprocess.DEVNULL)
    if child.returncode != 0:
        print(f"perfbench: the untraced run failed with code {child.returncode}", file=sys.stderr)
        return None, True
    with open(path) as f:
        return json.load(f), True


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in ("nous_spark", "__spark_entry__.py", "bench.py") if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    ctx = Context(root, args.workload, args.seed, cores)
    configure_environment(root, ctx.state)

    import metrics
    import workloads
    from tracing import fold, read_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cls = workloads.WORKLOADS[args.workload]
    log_dir = os.path.join(ctx.state, "eventlog", f"{args.workload}-{os.getpid()}")
    if args.trace:
        untraced, fresh = untraced_result(args, ctx.state)
        if untraced is None:
            return 1
    try:
        if args.trace:
            w, e2e_t = run_phase(cls, ctx, args.seconds, traced=True, log_dir=log_dir)
            fold(ctx.tracer.spans, read_event_log(log_dir))
            shutil.rmtree(log_dir, ignore_errors=True)
            from bench import HEADLINE

            units = metrics.per_layer_units(list(HEADLINE))
            got = w.layers()
            got["trace.spans"] = len(ctx.tracer.spans)
            for k in ("throughput_per_s", "op_p50_s"):
                got[f"trace.overhead.{k}"] = e2e_t[k] / untraced["metrics"][k]["value"] - 1.0
            unknown = set(got) - set(units)
            if unknown:
                raise KeyError(f"per-layer metrics missing from metrics.py: {sorted(unknown)}")
            # a layer this workload does not call did no work in it
            values = {n: got.get(n, 0) for n in units}
            out = {n: {"value": values[n], "unit": units[n][0]} for n in units}
            tdir = os.path.join(ctx.state, "traces")
            os.makedirs(tdir, exist_ok=True)
            spans_path = os.path.join(tdir, f"{args.workload}-s{args.seed}.json")
            with open(spans_path, "w") as f:
                json.dump({"spans": ctx.tracer.spans, "per_layer": values}, f, default=str)
            print(f"# trace: {len(ctx.tracer.spans)} spans in {spans_path}")
            if "pipeline.wall_s" in got:
                print(
                    f"# trace: run_pipeline wall {got['pipeline.wall_s']:.3f} s, union of "
                    f"its stage intervals {got['pipeline.stage_union_s']:.3f} s"
                )
        else:
            w, e2e = run_phase(cls, ctx, args.seconds, traced=False, log_dir=log_dir)
            out = {n: {"value": e2e[n], "unit": u[0]} for n, u in metrics.END_TO_END.items()}
    finally:
        shutdown()
    failed = len(w.failures)
    result = {"correct": failed == 0, "attempted": w.attempted, "failed": failed, "metrics": out}
    if args.trace:
        if fresh:  # its operations were made by this invocation
            result["attempted"] += untraced["attempted"]
            result["failed"] += untraced["failed"]
            result["correct"] = result["failed"] == 0
    else:
        path = result_path(ctx.state, args.workload, args.seed)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(result, f)
        os.replace(path + ".tmp", path)
    for f in w.failures:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} " + json.dumps(w.summary, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
