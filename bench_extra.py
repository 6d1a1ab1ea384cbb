"""Ad-hoc per-query timing harness for optimization A/Bs (guide §1.4).

NOT part of the frozen bench.py contract: this file exists so that
noop-sink isolation runs, registry-wide sweeps and before/after numbers
quoted in OPTIMIZATION_r07.md are reproducible.

Usage:
  python bench_extra.py <sf_dir> <name_substr> [reps]   # time matching
  python bench_extra.py <sf_dir> --sweep [reps]         # whole registry
  python bench_extra.py <sf_dir> --synth                # corpus build only
  python bench_extra.py <sf_dir> --pytask [reps]       # fixed cost per Python task
  python bench_extra.py --kernel [reps] [seed]         # layout kernel, no Spark

Each query is labelled via setJobDescription and timed against the
noop sink (computes every column, discards the result).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
WHAT = sys.argv[2] if len(sys.argv) > 2 else "--sweep"
REPS = int(sys.argv[3]) if len(sys.argv) > 3 else 3


def _import_package(batches):
    import parsee_pdf_reader_spark  # noqa: F401
    yield from batches


def _invalidate_ms(batches):
    import importlib

    import pyarrow as pa

    for _ in batches:
        pass
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    yield pa.RecordBatch.from_pydict(
        {"ms": [(time.perf_counter() - t0) * 1e3]})


def pytask(spark, cores):
    """Fixed cost of one Python map task: warm one worker per core, then
    time an identity ``mapInArrow`` over 32 partitions and, inside the
    workers, one ``importlib.invalidate_caches()`` (the call PySpark's
    worker makes before every task)."""
    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    noop(spark.range(0, cores * 64, 1, cores)
         .mapInArrow(_import_package, "id long"))
    n = 32
    for _ in range(REPS):
        t0 = time.perf_counter()
        noop(spark.range(0, n, 1, n).mapInArrow(_import_package, "id long"))
        wall = time.perf_counter() - t0
        ms = sorted(r.ms for r in spark.range(0, n, 1, n)
                    .mapInArrow(_invalidate_ms, "ms double").collect())
        print(f"identity mapInArrow x{n}: {wall:.2f}s wall, "
              f"{wall * cores / n * 1e3:.0f} ms/task; "
              f"invalidate_caches p50 {statistics.median(ms):.1f} ms "
              f"max {ms[-1]:.1f} ms")


def kernel_corpus(seed):
    """The perfbench ``extract`` corpus for ``seed``, built in-process:
    every fourth document is Flate %PDF bytes, the rest PLD2 layout
    docs (``perfbench.inputs.write_mixed_pages`` without Spark)."""
    from perfbench import inputs
    from perfbench.workloads import Extract
    from parsee_pdf_reader_spark.sources.synth import (
        build_document,
        build_pdf_document,
    )

    docs = inputs.make_documents(seed, Extract.docs_n)
    blobs = []
    for d, text in zip(docs["doc_id"], docs["text"]):
        d = int(d)
        if d % 4 == 3:
            blobs.append(build_pdf_document(f"doc{d}", seed, text,
                                            stream_filter="flate"))
        else:
            blobs.append(build_document(f"doc{d}", seed, text)[0])
    return blobs


def kernel_paths(blobs):
    """How much of ``blobs`` each kernel path serves: G1 lines per class
    (blank, planar fast pass, reference loop) and rows whose cells are
    linked runs (clean) against rows that take the full scan."""
    from collections import Counter

    from parsee_pdf_reader_spark.kernel import engine

    lines = Counter()
    rows = Counter()
    g1, row_index = engine._g1, engine._row_index

    def count_g1(p):
        fresh = p.g1 is None  # G1 runs once per Planes
        g = g1(p)
        if fresh:
            lines.update(g.cls)
        return g

    def count_rows(toks):
        r = row_index(toks)
        rows[r[3] is not None] += 1
        return r

    engine._g1, engine._row_index = count_g1, count_rows
    try:
        for b in blobs:
            engine.extract_document(b)
    finally:
        engine._g1, engine._row_index = g1, row_index
    print("G1 lines: " + "  ".join(
        f"{name} {lines[c]}" for name, c in (
            ("blank", engine._BLANK), ("fast", engine._FAST),
            ("slow", engine._SLOW))))
    n_rows = rows[True] + rows[False]
    print(f"rows: clean {rows[True]}  other {rows[False]}  clean share "
          f"{rows[True] / max(n_rows, 1):.4f}")


def kernel(reps, seed):
    """Whole-kernel seconds (best-of-N and median of single-thread
    loops over the ``extract`` corpus), per-stage self ms from one
    traced loop, each kernel path's traffic (:func:`kernel_paths`) and
    a digest of the kernel's output."""
    import hashlib
    import json

    from perfbench.layers import BLOB_SPANS, Tracer, self_times
    from parsee_pdf_reader_spark.kernel.engine import extract_document

    blobs = kernel_corpus(seed)
    n_pdf = sum(b[:5] == b"%PDF-" for b in blobs)
    print(f"corpus seed {seed}: {len(blobs)} docs ({n_pdf} %PDF)")
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        out = [extract_document(b) for b in blobs]
        ts.append(time.perf_counter() - t0)
    print(f"kernel s: best {min(ts):.3f}  median {statistics.median(ts):.3f}"
          f"  all {' '.join(f'{t:.3f}' for t in ts)}")
    with Tracer(BLOB_SPANS) as tr:
        for b in blobs:
            extract_document(b)
        st = self_times(tr.take())
    total = sum(st.values())
    for name, s in sorted(st.items(), key=lambda kv: -kv[1]):
        print(f"  {name:48s} {1e3 * s:9.1f} ms  {100 * s / total:5.1f}%")
    kernel_paths(blobs)
    digest = hashlib.sha256(
        json.dumps(out, sort_keys=True).encode()).hexdigest()
    print(f"output digest {digest[:16]}")


def main():
    if sys.argv[1:2] == ["--kernel"]:
        kernel(int(sys.argv[2]) if len(sys.argv) > 2 else 5,
               int(sys.argv[3]) if len(sys.argv) > 3 else 2)
        return

    from parsee_pdf_reader_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("parsee-bench-extra", master=f"local[{cpus}]",
                      extra_conf={"spark.ui.enabled": "false",
                                  "spark.sql.files.maxPartitionBytes": "8m"})
    spark.sparkContext.setLogLevel("ERROR")

    if WHAT == "--pytask":
        pytask(spark, int(spark.sparkContext.defaultParallelism))
        return

    if WHAT == "--synth":
        from parsee_pdf_reader_spark.sources.synth import synthesize_pages_df
        import shutil
        out = "/tmp/bench_extra_corpus"
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        ts = []
        for _ in range(REPS):
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.time()
            synthesize_pages_df(spark, docs, replicate=10) \
                .write.mode("overwrite").parquet(out)
            n = spark.read.parquet(out).count()
            ts.append(time.time() - t0)
            print(f"  synthesize+write+count: {ts[-1]:.2f}s  rows={n}")
        print(f"synthesize_corpus median {statistics.median(ts):.2f}s")
        shutil.rmtree(out, ignore_errors=True)
        return

    import parsee_pdf_reader_spark.operators  # noqa: F401
    from parsee_pdf_reader_spark.plans.queries import REGISTRY

    names = list(REGISTRY)
    if WHAT != "--sweep":
        names = [n for n in names if WHAT in n]
    total = 0.0
    for name in names:
        fn = REGISTRY[name][0]
        ts = []
        for _ in range(REPS):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.time()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            ts.append(time.time() - t0)
        med = statistics.median(ts)
        total += med
        spread = round((max(ts) - min(ts)) / med, 3) if med else 0.0
        print(f"{name:32s} {med:7.3f}s  spread {spread}")
    print(f"TOTAL {total:.2f}s over {len(names)} queries")


if __name__ == "__main__":
    main()
