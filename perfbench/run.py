"""Benchmark of the boatrace warehouse pipeline on a seeded synthetic corpus.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 5 --trace 0
    python3 perfbench/selftest.py      # the benchmark's own parts, no Spark

Run from the root of a checkout. The inputs (day archives written by
perfbench/gen.py and perfbench/lh5.py, and for the traced daily run a
star schema for the catalog slice) are generated from ``--seed`` and
cached per seed under ``.perfbench/``; generation is excluded from every
metric. Spark runs at ``local[nproc]`` with the driver memory set from
outside (SPARK_GRAFT_DRIVER_MEM, default 2g here).

One client runs one operation at a time: an untimed warm-up operation,
then timed operations until ``--seconds`` have passed (at least one).
An operation is a write phase (``backfill``: ``build --lzh`` into a fresh
warehouse; ``daily``: one new day through the streaming ingest) and a
read pass over the warehouse. Every output is checked against the
generator's truth; a wrong or failed operation counts in ``failed``.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (median of
SETUPS cold session starts, each launching a new JVM and timed through
a first Python-worker job), ``write_s`` and ``read_pass_s`` (medians
over the timed operations),
``peak_rss_mb`` (driver, JVM and Python workers) and
``wh_bytes_per_input_byte`` (parquet bytes over the TXT bytes of the
days the warehouse holds). ``--trace 1`` runs traced and untraced
operations in turn with spans around the calls into each module,
switches on Spark's event log, times single layers on the workload's
inputs (layers.py) and prints the per-layer metrics. The last stdout
line is the result object; the line before it is a summary with the
host record and the per-operation samples.
"""

from __future__ import annotations

import argparse
import ctypes
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
ROOT = os.path.dirname(HERE)
SETUPS = 2


class Context:
    """What a workload needs: session, tracer, inputs, and the phase
    times of the recorded operations (untraced and traced apart)."""

    def __init__(self, args, work: str, tracer):
        self.seed = args.seed
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.archive_dir = ""
        self.truth: list[dict] = []
        self.phases: dict[bool, list[tuple[float, float, int]]] = {False: [], True: []}
        self.recording = True
        self.read_times: dict[str, list[float]] = {}

    def record(self, write_s: float, read_s: float, write_bytes: int) -> None:
        """One operation's write and read-pass seconds and the TXT bytes
        its write phase ingested."""
        if self.recording:
            self.phases[self.tracer.enabled].append((write_s, read_s, write_bytes))


def _environment(work: str, trace: bool) -> None:
    """Set from outside the program what it must not decide itself: the
    core count and driver memory (the library default of 16g does not
    fit a small host), temporary and Spark directories inside ``work``
    so that a run writes only inside its checkout, and with tracing the
    event log the Spark counters are read from."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_CPUS", cpus)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH", "")) if p
    )
    conf = [
        f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'spark-warehouse')}",
    ]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.rolling.enabled=false",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{log_dir}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])


def _setup(ctx: Context) -> list[float]:
    """Start the session SETUPS times, each a cold start in a new JVM
    (``_stop`` ends the previous one), timed through a first
    Python-worker job. Returns the durations."""
    from boatrace_database_spark.session import get_spark

    t = ctx.tracer
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    out = []
    for _ in range(SETUPS):
        _stop(ctx.spark)
        t0 = time.perf_counter()
        with t.span("session.start"):
            spark = get_spark("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
        with t.span("session.warm"):
            spark.range(0, 4096, numPartitions=cores).mapInPandas(
                lambda it: it, "id long"
            ).count()
        out.append(time.perf_counter() - t0)
        ctx.spark = spark
    return out


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it and
    for the Python workers it leaves behind; the next session start
    launches a new JVM."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
        _reap()


def _become_subreaper() -> None:
    """Have descendants that lose their parent (the Python worker daemon
    once its JVM has exited) become children of this process, so that
    ``_reap`` can wait for them."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _reap(grace_s: float = 20.0) -> None:
    """Wait until every child process has ended; terminate, then kill,
    the ones still running after ``grace_s`` seconds."""
    import probe

    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for kid in probe._children().get(os.getpid(), []):
                try:
                    os.kill(kid, sig)
                except ProcessLookupError:
                    pass
            sig = signal.SIGKILL
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "boatrace_database_spark")):
        print("perfbench: boatrace_database_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import corpus
    import layers
    import probe
    from workloads import CORPUS_DAYS, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    _environment(work, bool(args.trace))
    host = probe.host_record(args.seed)

    tracer = probe.Tracer(bool(args.trace))
    ctx = Context(args, os.path.join(work, "run"), tracer)
    shutil.rmtree(ctx.work, ignore_errors=True)
    os.makedirs(ctx.work)
    ctx.archive_dir, ctx.truth = corpus.ensure(os.path.join(work, "cache"), args.seed, CORPUS_DAYS)

    attempted = failed = 0
    try:
        setups = _setup(ctx)
        wl = WORKLOADS[args.workload](ctx)
        t_prepare = time.perf_counter()
        wl.prepare()
        t_prepare = time.perf_counter() - t_prepare

        def attempt(op, *args) -> None:
            nonlocal attempted, failed
            attempted += 1
            try:
                ok = op(*args)
            except Exception:  # a failed operation is counted, the run goes on
                traceback.print_exc()
                ok = False
            failed += not ok

        with probe.RssSampler() as rss:
            # untimed warm-up (checked like any operation): the first
            # execution of each code path in a fresh JVM varies too much
            # from run to run to compare commits by
            tracer.enabled = ctx.recording = False
            attempt(wl.warm_up)
            ctx.recording = True
            if args.trace:
                # untraced, traced, untraced: the overhead estimate cancels
                # the drift of a still-warming JVM
                for enabled in (False, True, False):
                    tracer.enabled = enabled
                    attempt(wl.op, attempted)
            else:
                start = time.perf_counter()
                attempt(wl.op, attempted)
                while time.perf_counter() - start < args.seconds and wl.more():
                    attempt(wl.op, attempted)
            tracer.enabled = bool(args.trace)
        t_finish = time.perf_counter()
        failed += min(wl.finish(), attempted - failed)
        ratio = wl.warehouse_ratio()
        t_finish = time.perf_counter() - t_finish
        if args.trace:
            layer_metrics, probe_ops, probe_failed = layers.collect(ctx, wl)
            attempted += probe_ops
            failed += probe_failed
    finally:
        _stop(ctx.spark)
    host["loadavg_end"] = probe.loadavg()

    phases = ctx.phases[bool(args.trace)]
    if args.trace:
        events = probe.read_event_log(os.path.join(work, "eventlog"))
        metrics = layers.finish(ctx, layer_metrics, events)
        tracer.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}.json"))
    else:
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "write_s": (statistics.median(p[0] for p in phases), "s"),
            "read_pass_s": (statistics.median(p[1] for p in phases), "s"),
            "peak_rss_mb": (rss.peak, "MB"),
            "wh_bytes_per_input_byte": (ratio, "ratio"),
        }
    summary = {
        "workload": args.workload,
        "host": host,
        "operations": len(phases),
        "write_s": [round(p[0], 4) for p in phases],
        "write_mb_per_s": [round(p[2] / 2**20 / p[0], 4) for p in phases],
        "read_pass_s": [round(p[1], 4) for p in phases],
        "setup_s": [round(x, 4) for x in setups],
        "prepare_s": round(t_prepare, 4),
        "finish_s": round(t_finish, 4),
        "peak_rss_mb": {k: round(v, 1) for k, v in rss.peaks.items()},
        "error_rate": failed / attempted,
        "reads_s": ctx.read_times,
    }
    print(json.dumps(summary))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    _become_subreaper()
    try:
        code = main()
    finally:
        _reap()
    sys.exit(code)
