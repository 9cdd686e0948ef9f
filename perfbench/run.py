"""Benchmark of sparkocr's three production jobs on ``local[nproc]``.

    python3 perfbench/run.py --workload mixed-ordered --seed 1 \\
        --seconds 10 --trace 0

Workloads (see ``jobs.py`` and ``LAYERS.md``):

- ``mixed-ordered``: ``SparkOcrEngine.extract(route_documents=True)``
  then ``sources.write_ordered(fmt="parquet")`` over mixed transcripts;
- ``chat-checkpointed``: ``checkpoint.run_checkpointed`` with the
  ``run_extract.py`` CLI layout (64 buckets, batches of 8) over plain
  chat;
- ``corpus-build``: ``corpus.build_training_corpus(with_funnel=True)``
  with every output written, over documents with planted redundancy.

A run generates (or reuses) the seeded input and sets up once: session
start in a new JVM, as each run of a user's CLI does, plus one untimed
warm-up pass of the job over a small input from the same generator
(see ``jobs.warm_corpus``). With ``--trace 0`` the session then runs
measured passes for ``--seconds`` (at least ``MIN_PASSES``), each
checked, and the end-to-end metrics are printed. With ``--trace 1`` it
runs the layer probes of ``layers.py`` under spans and the Spark event
log instead, and the per-layer metrics are printed.
The last line of standard output is the JSON result; everything the
run writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import gen
import jobs
import layers
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")
# timed passes per run, at least
MIN_PASSES = 4
SETTLE_S = 0.25
# the driver JVM's GC log (see ``tracing.GcLog``)
GC_LOG = os.path.join(TMP, f"gc-{os.getpid()}.log")


def log(msg: str) -> None:
    print(f"# {msg}", flush=True)


def host() -> dict:
    """Hardware and software facts recorded with every result."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    import pyspark

    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": mem_kb // 1024,
            "load1_start": os.getloadavg()[0],
            "spark": pyspark.__version__,
            "python": platform.python_version()}


def prepare_inputs(wl, seed: int, n: int) -> dict:
    """Seeded input and warm-up input, cached per (workload, seed, n)."""
    import pyarrow.parquet as pq

    base = os.path.join(WORK, "inputs", f"{wl.name}-s{seed}-n{n}")
    in_path, warm_path = os.path.join(base, "input"), os.path.join(base, "warm")
    plants_path = os.path.join(base, "plants.json")
    t0 = time.perf_counter()
    if not os.path.exists(os.path.join(base, ".done")):
        shutil.rmtree(base, ignore_errors=True)
        table, plants = wl.make(seed, n)
        gen.write_files(table, in_path)
        gen.write_files(wl.make(seed, wl.warm_rows)[0], warm_path)
        with open(plants_path, "w") as f:
            json.dump(plants, f)
        open(os.path.join(base, ".done"), "w").close()
    else:
        table = pq.read_table(in_path)
        with open(plants_path) as f:
            plants = json.load(f)
    return {"in": in_path, "warm": warm_path, "table": table,
            "plants": plants, "gen_s": time.perf_counter() - t0}


def start_session(nproc: int, event_dir: str | None):
    from sparkocr.session import get_spark

    conf = {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={TMP} -XX:-UsePerfData "
            f"-Xlog:gc:file={GC_LOG}"}
    if event_dir:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(cores=nproc, app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark, then end its JVM (which takes the Python daemon and
    workers with it) and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def settle(spark) -> None:
    """Collect garbage in the driver and the JVM and give Spark's context
    cleaner a moment, so that removing the previous pass's shuffle files
    and checkpoints does not land inside the next timed pass (a user's
    job runs once per session and never pays it)."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(SETTLE_S)


def fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def setup(wl, inputs: dict, nproc: int, tracer, event_dir):
    """The set-up: start the session (and its JVM), run the warm-up
    pass. Returns the session and the (start, warm-up) seconds."""
    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = start_session(nproc, event_dir)
    t1 = time.perf_counter()
    with tracer.span("session.warmup"):
        (wl.warm or wl.run)(spark, inputs["warm"],
                            fresh(os.path.join(WORK, "out", "warm")))
    return spark, (t1 - t0, time.perf_counter() - t1)


class Passes:
    """Timed passes of one job with their correctness checks."""

    def __init__(self, wl, ctx, in_path: str, gc: tracing.GcLog | None = None):
        self.wl, self.ctx, self.in_path, self.gc = wl, ctx, in_path, gc
        self.walls: list[float] = []
        # per pass: the largest heap occupancy after a collection, from
        # the full collection of ``settle`` (the live set) to the pass end.
        # A pass may end before any other collection, when G1 has sized
        # the young generation to hold its whole allocation after that
        # full collection; the figure is then the live set alone.
        self.heap_peaks: list[int] = []
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.out_bytes = 0

    def one(self, spark, out_dir: str) -> float | None:
        """One checked pass; its wall time, or None when it raised."""
        fresh(out_dir)
        if self.gc is not None:
            self.gc.mark()
        settle(spark)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            self.wl.run(spark, self.in_path, out_dir)
        except Exception as e:  # a failed pass is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            self.problems.append(f"pass raised {type(e).__name__}: {e}"[:500])
            return None
        wall = time.perf_counter() - t0
        if self.gc is not None:
            self.heap_peaks.append(self.gc.peak_after_gc())
        try:
            problems = self.wl.check(self.ctx, out_dir)
        except Exception as e:  # unreadable output fails the check
            traceback.print_exc()
            problems = [f"check raised {type(e).__name__}: {e}"[:500]]
        if problems:
            self.failed += 1
            self.problems.extend(problems)
        self.walls.append(wall)
        self.out_bytes = jobs.tree_bytes(out_dir)
        return wall

    def merge(self, other: "Passes") -> None:
        """Count another job's checked passes as operations of this run."""
        self.attempted += other.attempted
        self.failed += other.failed
        self.problems += other.problems

    def measure(self, spark, seconds: float) -> None:
        """Timed passes until ``seconds`` of pass time are spent and at
        least ``MIN_PASSES`` ran. Every pass is checked. The set-up's
        warm-up pass is the untimed one: a run has no room for an
        untimed pass over the full input as well, and the median over
        passes leaves out the first, slowest pass."""
        out_dir = os.path.join(WORK, "out", self.wl.name)
        while sum(self.walls) < seconds or len(self.walls) < MIN_PASSES:
            if self.one(spark, out_dir) is None:
                return


def end_to_end(wl, ctx, inputs, args, nproc) -> tuple[dict, Passes, dict]:
    tracer = tracing.Tracer("untraced", enabled=False)
    passes = Passes(wl, ctx, inputs["in"], tracing.GcLog(GC_LOG))
    spark, (start_s, warm_s) = setup(wl, inputs, nproc, tracer, None)
    with tracing.RssSampler() as rss:
        passes.measure(spark, args.seconds)
    pools = tracing.jvm_pool_peaks(spark)
    shutdown(spark)
    non_heap = sum(v for k, v in pools.items() if k.startswith("Non-heap"))
    heap = max(passes.heap_peaks, default=0)
    n = ctx.table.num_rows
    metrics = {
        "rows_per_s": (statistics.median(n / w for w in passes.walls)
                       if passes.walls else 0.0, "rows/s"),
        "setup_s": (start_s + warm_s, "s"),
        "peak_mem_mb": ((heap + non_heap + rss.peak_python) / 2**20, "MB"),
        "out_bytes_per_in_byte": (passes.out_bytes / jobs.text_bytes(ctx.table),
                                  "ratio"),
    }
    samples = {"rows_per_s": len(passes.walls), "setup_s": 1,
               "peak_mem_mb": len(passes.heap_peaks),
               "out_bytes_per_in_byte": 1}
    for name, (v, unit) in metrics.items():
        log(f"{name} = {v:.6g} {unit} (n={samples[name]})")
    log(f"error_rate = {passes.failed / max(passes.attempted, 1):.6g} ratio "
        f"(n={passes.attempted})")
    diag = {"pass_walls_s": passes.walls, "setup_s": [start_s, warm_s],
            "heap_after_gc_peak_mb": [h / 2**20 for h in passes.heap_peaks],
            "jvm_pool_peak_mb": {k: v / 2**20 for k, v in pools.items()},
            "jvm_rss_peak_mb": rss.peak_jvm / 2**20,
            "python_rss_peak_mb": rss.peak_python / 2**20}
    return metrics, passes, diag


def traced(wl, ctx, inputs, args, nproc) -> tuple[dict, Passes, dict]:
    run_id = f"{wl.name}-s{args.seed}-{int(time.time())}"
    tracer = tracing.Tracer(run_id)
    event_dir = fresh(os.path.join(WORK, "events", run_id))
    os.makedirs(event_dir)
    n = ctx.table.num_rows
    extraction = wl.name != "corpus-build"
    passes = Passes(wl, ctx, inputs["in"])
    out_dir = os.path.join(WORK, "out", wl.name)
    m: dict[str, float] = {}
    with tracer.span("run"):
        spark, (start_s, warm_s) = setup(wl, inputs, nproc, tracer,
                                         event_dir)
        app_id = spark.sparkContext.applicationId
        with tracer.span("job.untimed"):
            # so that job.plain below runs as warm as the untraced
            # runs' median pass
            passes.one(spark, out_dir)
        if extraction:
            layers.engine_probes(spark, tracer, inputs["in"],
                                 wl.route_documents)
        else:
            with layers.job(spark, tracer, "sources.scan"):
                layers.noop(spark.read.parquet(inputs["in"]))
        with layers.job(spark, tracer, "job.plain"):
            plain_s = passes.one(spark, out_dir)
        if wl.name == "corpus-build":
            funnel = list(jobs.read_funnel(out_dir).values())
            for stage, a, b in zip(jobs.FUNNEL[1:], funnel, funnel[1:]):
                m[f"corpus.kept_ratio.{stage}"] = b / a
        # the traced pass: the same job with the kernel input counted
        with layers.counted_extract(spark) as acc, \
                layers.job(spark, tracer, "job.traced"):
            traced_s = passes.one(spark, out_dir)
        if plain_s is None or traced_s is None:
            shutdown(spark)
            return {}, passes, {}  # reported as failed
        m["engine.kernel_evals_per_row"] = acc.value / n
        if extraction:
            chat_wl = jobs.WORKLOADS["chat-checkpointed"]
            chat_in = prepare_inputs(chat_wl, args.seed,
                                     layers.CHECKPOINT_PROBE_ROWS)
            chat = Passes(chat_wl, jobs.Ctx(chat_in["table"]), chat_in["in"])
            m.update(layers.checkpoint_probe(
                spark, tracer, chat, os.path.join(WORK, "out", "checkpoint")))
            passes.merge(chat)
            with tracer.span("kernel"):
                k = layers.kernel_probe(ctx.table, tracer, wl.route_documents)
            m["fastbatch.fast_path_ratio"] = k["served"] / k["attempted"]
            m["pipeline.fallback_rows"] = k["fallback_rows"]
        else:
            layers.corpus_probes(spark, tracer, inputs["in"])
        shutdown(spark)
    events = tracing.read_event_log(
        tracing.event_log_files(event_dir, app_id))
    plain = events.get("job.plain", {})
    m.update({
        "session.start_s": start_s,
        "session.warmup_s": warm_s,
        "spark.records_read_per_row": plain.get("records_read", 0) / n,
        "spark.shuffle_write_bytes": plain.get("shuffle_write_bytes", 0),
        "spark.spill_bytes": plain.get("spill_bytes", 0),
        "spark.task_skew": plain.get("task_skew", 0.0),
        "spark.jobs": plain.get("jobs", 0),
        "trace.overhead_s": traced_s - plain_s,
    })
    if extraction:
        m["checkpoint.records_read_per_row"] = (
            events["checkpoint.run"]["records_read"]
            / chat.ctx.table.num_rows)
    for name in layers.PER_LAYER:
        stem = name[:-2]
        if name.endswith("_s") and any(s["name"] == stem for s in tracer.spans):
            m.setdefault(name, tracer.total(stem))
    if wl.route_documents:
        m["sources.write_s"] = plain_s - m["engine.ordered_s"]
    self_s = tracing.self_times(tracer.spans)
    os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
    tracer.dump(os.path.join(WORK, "trace", f"{run_id}.json"))
    log("self_s " + json.dumps({k: round(v, 4) for k, v in sorted(self_s.items())}))
    log("spark_by_job " + json.dumps(events, sort_keys=True))
    log(f"tracing overhead: job.traced {traced_s:.3f} s vs job.plain "
        f"{plain_s:.3f} s in this run; compare job.plain with the untraced "
        f"runs' {n} rows / rows_per_s for the event log's share")
    diag = {"trace_file": f"perfbench/.work/trace/{run_id}.json",
            "pass_walls_s": passes.walls}
    return m, passes, diag


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=None,
                   help="input rows (default: the workload's own size)")
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "sparkocr")):
        print(f"sparkocr not found beside {HERE}", file=sys.stderr)
        return 2
    for d in (WORK, TMP):
        os.makedirs(d, exist_ok=True)
    # Spark's scratch space, the JVM's and Python's temp files stay in
    # the checkout
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = TMP
    sys.path.insert(0, ROOT)

    if args.workload not in jobs.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(jobs.WORKLOADS)}", file=sys.stderr)
        return 2
    wl = jobs.WORKLOADS[args.workload]
    env = host()
    inputs = prepare_inputs(wl, args.seed, args.rows or wl.rows)
    ctx = jobs.Ctx(inputs["table"], inputs["plants"])
    if wl.prepare is not None:
        ctx.oracle = wl.prepare(ctx.table, args.seed)
    nproc = env["nproc"]
    run = traced if args.trace else end_to_end
    metrics, passes, diag = run(wl, ctx, inputs, args, nproc)
    if os.path.exists(GC_LOG):
        os.remove(GC_LOG)
    env["load1_end"] = os.getloadavg()[0]
    env["gen_s"] = inputs["gen_s"]
    env["rows"] = ctx.table.num_rows
    log("host " + json.dumps(env))
    log("diag " + json.dumps(diag, default=str))
    for msg in passes.problems:
        log(f"FAILED: {msg}")
    if args.trace:
        missing = [k for k in layers.PER_LAYER if k not in metrics]
        if missing:
            # layers this workload's job never calls read 0
            log("n/a on this workload: " + " ".join(missing))
        out = {k: {"value": float(metrics.get(k, 0.0)), "unit": u}
               for k, u in layers.PER_LAYER.items()}
    else:
        out = {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}
    ok = passes.failed == 0 and passes.attempted > 0
    print(json.dumps({"correct": ok, "attempted": passes.attempted,
                      "failed": passes.failed, "metrics": out}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
