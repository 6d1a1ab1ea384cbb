"""Resumable per-partition extraction with lineage + metrics.

BASELINE.json north_rule: "resumable from checkpoint with per-partition
lineage + metrics ... any failed split resumes idempotently".

Mechanism (catalog-agnostic; works on parquet dirs here, maps 1:1 to
Iceberg ``overwritePartitions`` + a ``_progress`` table in production):

- work is keyed by a partition expression over the input (default
  ``to_date(warc_ts)``), giving deterministic, idempotent splits;
- each partition takes ``run_extraction``'s path with its options, so
  a resumed run writes the rows a one-shot run with them writes;
- a ``_progress`` ledger (one parquet dir) records, per (run_id,
  partition): row counts in/out, error count, a value digest of the
  output, and wall time — the lineage + metrics record;
- on (re)start, partitions present in the ledger with status='done' are
  skipped; a partition is written atomically (separate dir per
  partition, overwrite mode) before its ledger row is appended, so a
  crash between the two re-does at most one partition (idempotent).

Scan economics: each partition costs ONE read of that partition's
input (rows_in is an ``observe()`` metric on the extraction's own
pass: the rows handed to the kernel, i.e. after the ``lang`` predicate)
plus one read-back of its (much smaller) output for the digest.
For the per-partition input filter to PRUNE files rather than scan the
whole input, ``partition_expr`` should be the table's physical
partition column (``ds`` for a hive-layout dir, hidden partitioning on
Iceberg makes ``days(warc_ts)`` prune natively); an arbitrary
expression over an unpartitioned dir degrades to a full scan per
partition — acceptable for staging dirs, not for a 100 TB input.
"""

from __future__ import annotations

import os
import time
from typing import List, Optional

from pyspark.errors import AnalysisException
from pyspark.sql import Observation, SparkSession, functions as F

from parsee_pdf_reader_spark.pipeline import _extract_selection, read_pages

PROGRESS_SCHEMA = ("run_id string, part string, status string, "
                   "rows_in long, rows_out long, errors long, "
                   "digest string, wall_sec double, finished_ts timestamp")


class CheckpointedExtraction:
    def __init__(self, spark: SparkSession, input_path: str,
                 output_path: str, run_id: str = "r1",
                 partition_expr: str = "to_date(warc_ts)",
                 lang: Optional[str] = None, partitions: int = 0,
                 min_rows: int = 2, min_cols: int = 1):
        self.spark = spark
        self.input_path = input_path
        self.output_path = output_path
        self.run_id = run_id
        self.partition_expr = partition_expr
        self.options = dict(lang=lang, partitions=partitions,
                            min_rows=min_rows, min_cols=min_cols)
        self.progress_path = os.path.join(output_path, "_progress")

    # -- ledger --

    def completed_partitions(self) -> List[str]:
        try:
            df = self.spark.read.parquet(self.progress_path)
        except AnalysisException as e:
            # ONLY a missing ledger means "fresh run". A corrupt or
            # transiently unreadable ledger must propagate: silently
            # reprocessing everything is idempotent but O(full job),
            # and it would mask real ledger corruption.
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return []
        return [
            r.part
            for r in df.where((F.col("run_id") == self.run_id)
                              & (F.col("status") == "done"))
            .select("part").distinct().collect()
        ]

    def _append_progress(self, row: dict):
        df = self.spark.createDataFrame([row], schema=PROGRESS_SCHEMA)
        df.write.mode("append").parquet(self.progress_path)

    # -- work --

    def pending_partitions(self) -> List[str]:
        parts = self._partition_values()
        done = set(self.completed_partitions())
        return sorted(p for p in parts if p not in done)

    def _partition_values(self) -> List[str]:
        """Distinct partition values of the input.

        Fast path (VERDICT r2 item 8): when ``partition_expr`` is a
        bare column name and the input dir is hive-partitioned on it
        (``col=value`` subdirs), the values come from the FILE INDEX —
        a driver-side directory listing, no executor scan of the data
        at all (the Iceberg equivalent is reading the partitions
        metadata table). An arbitrary expression falls back to a
        distinct over the input, column-pruned to the expression's
        inputs."""
        import re as _re

        expr = self.partition_expr.strip()
        if _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", expr):
            vals = self._hive_partition_values(expr)
            if vals is not None:
                return vals
        return [
            str(r.p)
            for r in read_pages(self.spark, self.input_path)
            .select(F.expr(expr).cast("string").alias("p"))
            .distinct().collect()
        ]

    def _hive_partition_values(self, col: str) -> Optional[List[str]]:
        """``col=value`` subdir names under input_path via the Hadoop
        FS API (pure metadata; None when the layout doesn't match)."""
        from urllib.parse import unquote

        try:
            jvm = self.spark._jvm
            conf = self.spark._jsc.hadoopConfiguration()
            path = jvm.org.apache.hadoop.fs.Path(self.input_path)
            fs = path.getFileSystem(conf)
            if not fs.getFileStatus(path).isDirectory():
                return None
            vals = []
            prefix = col + "="
            for st in fs.listStatus(path):
                name = st.getPath().getName()
                if st.isDirectory() and name.startswith(prefix):
                    v = unquote(name[len(prefix):])
                    if v != "__HIVE_DEFAULT_PARTITION__":
                        vals.append(v)
            if not vals:
                return None
            return self._normalize_partition_values(col, vals)
        except Exception:
            return None

    def _normalize_partition_values(
            self, col: str, vals: List[str]) -> Optional[List[str]]:
        """Raw ``col=value`` dir strings -> the canonical strings
        ``run()``'s ``cast(expr as string)`` filter will actually see.

        ADVICE r3: Spark type-infers hive partition columns, so a
        non-canonical dir value (``p=007`` -> int 7 -> '7', ``p=1.50``
        -> '1.5') never matches its own raw dir string — the partition
        would write zero rows yet be ledgered 'done'. Round-trip every
        listed value through the column type Spark actually inferred
        for this input (driver-side, a handful of rows — no executor
        scan of the data). Distinct dirs can collapse to one canonical
        value (p=7 and p=007): dedupe, preserving order."""
        dtype = read_pages(self.spark, self.input_path).schema[col].dataType
        one_col = self.spark.createDataFrame(
            [(v,) for v in vals], "v string")
        canon = [
            r.c for r in one_col.select(
                F.col("v").cast(dtype).cast("string").alias("c")).collect()
        ]
        out: List[str] = []
        seen = set()
        for c in canon:
            if c is not None and c not in seen:
                seen.add(c)
                out.append(c)
        return out or None

    def run(self, max_partitions: Optional[int] = None) -> List[str]:
        """Process pending partitions; returns the list processed.
        Each is written flat: unlike a ``partitionBy`` write, a flat
        write of no rows (no ``lang`` rows) reads back with its schema."""
        import datetime

        pending = self.pending_partitions()
        if max_partitions is not None:
            pending = pending[:max_partitions]
        for part in pending:
            t0 = time.time()
            # rows_in comes from an Observation on the extraction's own
            # pass — NO separate count() pass over the input (at 100 TB
            # an extra count is a second full read of the partition)
            obs = Observation()
            src = read_pages(self.spark, self.input_path).where(
                F.expr(self.partition_expr).cast("string") == part)
            out = _extract_selection(src, rows_in=obs, **self.options)
            part_dir = os.path.join(self.output_path, f"part={part}")
            out.write.mode("overwrite").parquet(part_dir)
            rows_in = int(obs.get["rows_in"])
            # the digest pass deliberately re-reads the WRITTEN files —
            # it certifies what was persisted, not what was computed;
            # this is the only extra pass (over the small output side)
            written = self.spark.read.parquet(part_dir)
            agg = written.agg(
                F.count("*").alias("n"),
                F.sum(F.when(F.col("error").isNotNull(), 1)
                      .otherwise(0)).alias("errs"),
                # 0 is the xor of no rows, where bit_xor gives null
                F.expr("coalesce(bit_xor(xxhash64(url, page_index, "
                       "extracted_text)), 0)").alias("digest"),
            ).collect()[0]
            self._append_progress({
                "run_id": self.run_id,
                "part": part,
                "status": "done",
                "rows_in": rows_in,
                "rows_out": agg["n"],
                "errors": int(agg["errs"] or 0),
                "digest": str(agg["digest"]),
                "wall_sec": time.time() - t0,
                "finished_ts": datetime.datetime.now(),
            })
        return pending
