"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--scale <f>]

Run from the repository root. One driver process runs Spark as
``local[N]`` with N = the CPUs this process may use (``nproc``). The
run:

1. starts the session, makes the workload's inputs from ``--seed``
   (``SETUP_ROUNDS`` times, keeping the median), starts one Python
   worker per core and, where the workload asks for it, runs untimed
   warm-up reps; together that is ``setup_s``;
2. repeats the workload for ``--seconds`` (at least ``MIN_REPS`` reps),
   timing each public call (``build_s``) and its sink (``docs_per_s``,
   median over reps) while sampling the process tree's memory
   (``peak_rss_mb``);
3. checks every rep's output: no error rows, no missing docs, the
   result equal to an independent reference (sampled docs re-extracted
   by a single-thread in-process kernel; the DuckDB twin of
   ``corpus_keep_filter``; the urls an in-process run of the training
   composition keeps), the same digest on every rep, and the digest
   pinned in ``perfbench/spec.json`` for pinned seeds. A rep whose main
   stage ran fewer tasks than N fails too.

With ``--trace 1`` the Spark event log is on, public calls are wrapped
in this process, and the kernel and sources layers are traced over the
workload's own blobs; the per-layer metrics of ``BENCHMARK.json`` are
reported instead of the end-to-end ones. A readable report goes to
standard output first; the last line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

T_START = time.perf_counter()
ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent
MIN_REPS = 1
SETUP_ROUNDS = 3
DRIVER_HEAP = "1536m"
BLOB_LIMIT = {"extract": 120, "curate": 0, "train_corpus": 60}

#: public module attributes timed in the driver during traced Spark reps
CALL_SPANS = (
    [("operators.dedup", "minhash_pairs_df",
      "operators.dedup.minhash_pairs_s"),
     ("operators.dedup", "connected_components_df",
      "operators.dedup.connected_components_s")]
    + [("operators.curation", q, f"operators.curation.{q[2:]}_build_s")
       for q in ("q_dedup_canonical", "q_doc_quality_scores",
                 "q_sentence_boilerplate", "q_dup_span_stats",
                 "q_lm_ppl_buckets", "q_decontam_ngram_overlap",
                 "q_corpus_sample")])


def log(msg):
    """Progress line on stderr, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


class Context:
    def __init__(self, seed, cores, work):
        self.seed = seed
        self.cores = cores
        self.work = work
        self.spark = None


def _pss_bytes(pid):
    with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
        for line in fh:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    raise ValueError(f"no Pss line for {pid}")


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    driver JVM and the Python workers it forks), summed as proportional
    set sizes: pages that forked workers share with their parent are
    counted once, and a child caught between fork and exec does not
    count its parent's memory a second time."""

    def __init__(self, period=0.05):
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self.peak_parts = {}
        self._halt = threading.Event()

    def tree_rss(self):
        """(total bytes, {command: [processes, bytes]}) of the tree."""
        children = {}
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat", "rb") as fh:
                    stat = fh.read()
            except OSError:
                continue
            ppid = int(stat.rsplit(b")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(pid))
        total, parts, todo = 0, {}, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                rss = _pss_bytes(pid)
                with open(f"/proc/{pid}/comm", encoding="utf-8") as fh:
                    comm = fh.read().strip()
            except (OSError, ValueError):
                continue
            total += rss
            part = parts.setdefault(comm, [0, 0])
            part[0] += 1
            part[1] += rss
        return total, parts

    def run(self):
        while not self._halt.is_set():
            total, parts = self.tree_rss()
            if total > self.peak:
                self.peak, self.peak_parts = total, parts
            self._halt.wait(self.period)

    def stop(self):
        self._halt.set()
        self.join()


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiply input sizes (smoke runs use 0.05)")
    return ap.parse_args(argv)


def isolate(work: Path):
    """Keep every file Spark, the JVM and Python write under ``work``."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    import tempfile
    tempfile.tempdir = None
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")


def start_spark(ctx, trace: bool):
    from parsee_pdf_reader_spark.session import get_spark

    work = Path(ctx.work)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # a fixed, pre-touched driver heap: the JVM's resident size no
        # longer depends on when G1 decides to grow, so peak_rss_mb moves
        # with what the program holds, not with collector timing
        "spark.driver.memory": DRIVER_HEAP,
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
        # small input splits, as bench.py: a PLD doc is ~20 KB of bytes
        # but ~6 ms of kernel time, so 128 MB splits leave cores idle
        "spark.sql.files.maxPartitionBytes": "8m",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": (work / "events").as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    (work / "events").mkdir()
    spark = get_spark("perfbench", master=f"local[{ctx.cores}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark):
    """Stop the session, the JVM behind it and its Python workers, and
    wait for them to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_children(timeout=30.0):
    """Wait until no process started by this one is alive."""
    me = str(os.getpid())
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = False
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat", "rb") as fh:
                    fields = fh.read().rsplit(b")", 1)[1].split()
            except OSError:
                continue
            if fields[1].decode() == me and fields[0] != b"Z":
                alive = True
                break
        if not alive:
            return
        time.sleep(0.1)


def split_tasks(sc, tag):
    """Task count of the rep's largest stage (the extraction map)."""
    tracker = sc.statusTracker()
    most = 0
    for jid in tracker.getJobIdsForGroup(tag):
        job = tracker.getJobInfo(jid)
        for sid in (job.stageIds if job else ()):
            st = tracker.getStageInfo(sid)
            if st is not None:
                most = max(most, st.numTasks)
    return most


def _import_package(batches):
    import parsee_pdf_reader_spark.kernel.engine  # noqa: F401
    import parsee_pdf_reader_spark.operators.html_extract  # noqa: F401
    yield from batches


def warm_workers(ctx):
    """Start one Python worker per core and import the package in it, so
    worker start never lands in a timed rep. Plan compilation and JIT
    warm-up stay in the timed reps: every fresh job pays them."""
    sc = ctx.spark.sparkContext
    sc.setJobGroup("warmup", "warmup sink")
    (ctx.spark.range(0, ctx.cores * 64, 1, ctx.cores)
     .mapInArrow(_import_package, "id long")
     .write.format("noop").mode("overwrite").save())
    sc.setJobGroup("untimed", "untimed")


def run_rep(wl, tag, calls=None):
    sc = wl.spark.sparkContext
    if calls is not None:
        calls.tag = tag
    sc.setJobGroup(tag, f"{tag} build")
    t0 = time.perf_counter()
    df = wl.build(tag)
    t1 = time.perf_counter()
    sc.setJobGroup(tag, f"{tag} sink")
    wl.sink(df, tag)
    t2 = time.perf_counter()
    sc.setJobGroup("untimed", "untimed")
    if calls is not None:
        calls.tag = None
    out = wl.check(tag)
    out.tag = tag
    out.build_s = t1 - t0
    out.total_s = t2 - t0
    out.tasks = split_tasks(sc, tag)
    return out


def median(values):
    return statistics.median(values) if values else 0.0


def layer_metrics(wl, reps, events, calls, blob_m, timings):
    """Per-layer metrics (medians over the timed reps)."""
    from perfbench.eventlog import PY_INIT, PY_RETURNED, PY_RUN, PY_SENT, \
        PY_START

    m = dict(blob_m)
    tags = [r.tag for r in reps]
    per = [events.get(t) for t in tags]
    per = [p for p in per if p is not None]
    docs = wl.n_docs

    def med(fn):
        return median([fn(p) for p in per])

    wall = {r.tag: r.total_s for r in reps}
    m.update({
        "spark.jobs": med(lambda p: p.jobs),
        "spark.jobs_at_build": med(lambda p: p.jobs_at_build),
        "spark.stages": med(lambda p: len(p.stages)),
        "spark.tasks": med(lambda p: p.tasks),
        "spark.main_stage_tasks": med(lambda p: p.max_stage_tasks()),
        "spark.executor_run_s": med(lambda p: p.run_ms / 1e3),
        "spark.executor_cpu_s": med(lambda p: p.cpu_ns / 1e9),
        "spark.gc_s": med(lambda p: p.gc_ms / 1e3),
        "spark.task_p99_over_p50": med(lambda p: p.task_skew()),
        "spark.shuffle_write_mb": med(lambda p: p.shuffle_write / 1e6),
        "spark.shuffle_read_mb": med(lambda p: p.shuffle_read / 1e6),
        "spark.input_rows_per_doc": med(lambda p: p.input_records / docs),
        "pipeline.pyworker_run_s": med(lambda p: p.sql[PY_RUN]),
        "pipeline.pyworker_start_s": med(lambda p: p.sql[PY_START]),
        "pipeline.pyworker_init_s": med(lambda p: p.sql[PY_INIT]),
        "pipeline.py_bytes_sent_per_doc": med(
            lambda p: p.sql[PY_SENT] / docs),
        "pipeline.py_bytes_returned_per_doc": med(
            lambda p: p.sql[PY_RETURNED] / docs),
        "pipeline.kernel_rows_per_doc": med(
            lambda p: p.sql["kernel_rows"] / wl.kernel_docs
            if wl.kernel_docs else 0.0),
    })
    m["spark.core_busy"] = median([
        events[t].run_ms / 1e3 / (wall[t] * wl.ctx.cores)
        for t in tags if t in events])
    warm = events.get("warmup")
    m["pipeline.pyworker_start_setup_s"] = (
        warm.sql[PY_START] if warm else 0.0)
    m["pipeline.sink_mb"] = (wl.sink_bytes() / 1e6
                             if hasattr(wl, "sink_bytes") else 0.0)
    for _mod, _attr, name in CALL_SPANS:
        m[name] = median([calls.by_tag[t].get(name, 0.0) for t in tags])
    m["session.get_spark_s"] = timings["get_spark_s"]
    m["sources.synth.generate_s"] = timings["generate_s"]
    return m


def load_spec():
    with open(HERE / "spec.json", encoding="utf-8") as fh:
        return json.load(fh)


def load_metric_defs():
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as fh:
        bench = json.load(fh)
    return bench["end_to_end"], bench["per_layer"]


def bench(args, ctx, spec):
    from perfbench import eventlog, layers
    from perfbench.workloads import WORKLOADS

    trace = bool(args.trace)
    timings = {}
    log("starting spark")
    t_setup = time.perf_counter()
    ctx.spark = start_spark(ctx, trace)
    log("spark started")
    timings["get_spark_s"] = time.perf_counter() - t_setup
    wl = WORKLOADS[args.workload](ctx, args.scale, "main")
    rounds = []
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        wl.setup()
        rounds.append(time.perf_counter() - t0)
    timings["generate_s"] = median(rounds)
    calls = layers.CallTimer(CALL_SPANS) if trace else None
    try:
        t0 = time.perf_counter()
        warm_workers(ctx)
        for i in range(wl.warm_reps):
            run_rep(wl, f"warmup{i}", calls)
        timings["warmup_s"] = time.perf_counter() - t0
        setup_s = (timings["get_spark_s"] + timings["generate_s"]
                   + timings["warmup_s"])

        log("set up")
        reps = []
        sampler = RssSampler()
        sampler.start()
        t_run = time.perf_counter()
        try:
            while (time.perf_counter() - t_run < args.seconds
                   or len(reps) < MIN_REPS):
                reps.append(run_rep(wl, f"rep{len(reps)}", calls))
        finally:
            sampler.stop()
    finally:
        if calls is not None:
            calls.close()

    log(f"{len(reps)} timed reps")
    # ---- output checks (untimed) ----
    t0 = time.perf_counter()
    problems = []
    digests = {r.digest for r in reps}
    problems.extend(wl.reference_problems(digests))
    if len(digests) != 1:
        problems.append(f"digest differs between reps: {sorted(digests)}")
    pinned = spec["workloads"][wl.name]["digests"].get(str(ctx.seed))
    if args.scale == 1.0 and pinned is not None and digests != {pinned}:
        problems.append(f"digest differs from pinned {pinned}")
    for r in reps:
        problems.extend(r.problems)
        if wl.checks_split and r.tasks < ctx.cores:
            problems.append(f"{r.tag}: main stage ran {r.tasks} tasks "
                            f"on {ctx.cores} cores")
    attempted = sum(r.attempted for r in reps)
    failed = sum(r.failed for r in reps)
    if problems and not failed:
        failed = attempted  # a run-level mismatch fails every doc

    e2e = {
        "docs_per_s": median([wl.n_docs / r.total_s for r in reps]),
        "build_s": median([r.build_s for r in reps]),
        "peak_rss_mb": sampler.peak / 2 ** 20,
        "setup_s": setup_s,
    }
    blob_m = {}
    if trace:
        blob_m = layers.trace_blobs(
            wl.layout_blobs(int(BLOB_LIMIT[wl.name] * max(args.scale, 0.2))),
            wl.html_blobs(int(BLOB_LIMIT[wl.name] * max(args.scale, 0.2))))
    timings["checks_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    stop_spark(ctx.spark)
    ctx.spark = None
    timings["stop_s"] = time.perf_counter() - t0
    metrics = e2e
    if trace:
        events = eventlog.rep_stats(str(Path(ctx.work) / "events"))
        metrics = layer_metrics(wl, reps, events, calls, blob_m, timings)
        timings["rep_engine"] = {
            t: {"executor_run_s": p.run_ms / 1e3,
                "pyworker_init_s": p.sql[eventlog.PY_INIT],
                "pyworker_run_s": p.sql[eventlog.PY_RUN]}
            for t, p in events.items() if t.startswith(("rep", "warm"))}
    info = {
        "workload": wl.name, "seed": ctx.seed, "cores": ctx.cores,
        "input_docs": wl.n_docs, "reps": len(reps),
        "rep_docs_per_s": [round(wl.n_docs / r.total_s, 2) for r in reps],
        "rep_build_s": [round(r.build_s, 4) for r in reps],
        "main_stage_tasks": [r.tasks for r in reps],
        "peak_rss_mb_by_command": {
            k: [n, round(b / 2 ** 20)]
            for k, (n, b) in sorted(sampler.peak_parts.items())},
        "digest": sorted(digests), "problems": problems,
        "error_share": failed / attempted if attempted else 1.0,
        **timings,
    }
    return metrics, info, attempted, failed, not problems


def report(metrics, defs, info):
    print(f"# perfbench {info['workload']} seed={info['seed']} "
          f"N={info['cores']} docs/rep={info['input_docs']} "
          f"reps={info['reps']}")
    for k, v in info.items():
        if k not in ("workload", "seed", "cores"):
            print(f"#   {k}: {v}")
    for d in defs:
        print(f"#   {d['name']:48s} {metrics[d['name']]:14.4f} {d['unit']}")
    extra = sorted(set(metrics) - {d["name"] for d in defs})
    for k in extra:
        print(f"#   {k:48s} {metrics[k]:14.4f} (unlisted)")


def main(argv=None):
    args = parse_args(argv)
    spec = load_spec()
    if args.workload not in spec["workloads"]:
        sys.exit(f"unknown workload {args.workload!r}; "
                 f"choose from {sorted(spec['workloads'])}")
    end_to_end, per_layer = load_metric_defs()
    defs = per_layer if args.trace else end_to_end
    sys.path.insert(0, str(ROOT))
    import parsee_pdf_reader_spark  # noqa: F401  (fail fast without it)

    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_work" / (
        f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    ctx = Context(args.seed, cores, str(work))
    try:
        metrics, info, attempted, failed, correct = bench(args, ctx, spec)
    finally:
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        log("stopped")
        wait_children()
        log("children gone")
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    missing = [d["name"] for d in defs if d["name"] not in metrics]
    if missing:
        sys.exit(f"metrics not measured: {missing}")
    log("done")
    report(metrics, defs, info)
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {d["name"]: {"value": float(metrics[d["name"]]),
                                "unit": d["unit"]} for d in defs},
    }))


if __name__ == "__main__":
    main()
