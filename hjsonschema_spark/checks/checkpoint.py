"""Checkpointed, resumable validation runs (north rule: "resumable from
checkpoint with per-partition lineage (snapshot-id, file manifest,
check-version) and metrics").

Unit of work = one batch of input files. Each completed batch appends:
  - its violation rows (under violations/, tagged with batch_id)
  - a checkpoint row carrying the lineage: check_version (sha256 of the
    suite's canonical JSON), snapshot id (Iceberg snapshot when
    available, else the input fingerprint), the exact file manifest,
    and metrics (rows, violations, wall seconds).

Resume = list current input files, anti-join against completed
checkpoint rows with the SAME check_version (a changed suite
invalidates prior progress, like the reference re-validating when the
schema changes), and process only the remainder.

Storage is Iceberg when the runtime has it, Parquet-append otherwise
(detected via session.iceberg_available) — the layout and semantics are
identical.

Ledger reads tolerate truncated/corrupt part files (ignoreCorruptFiles —
what a dying writer or disk leaves behind): an unreadable 'done' row
merely RE-validates its batch on resume and orphans that batch's old
violation rows (excluded by ``violations()``'s committed-batch
semi-join) — never a skip, never a double-count
(tests/test_checkpoint_chaos.py). Violation-data reads stay strict:
data loss there should be loud, not papered over.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hjsonschema_spark.checks.engine import run_suite
from hjsonschema_spark.checks.ir import CheckSuite, SuiteRegistry

_CKPT_SCHEMA = (
    "batch_id string, run_id string, suite string, check_version string, "
    "snapshot_id string, file_manifest array<string>, n_files int, "
    "n_rows long, n_violations long, wall_sec double, status string"
)


def check_version(suite: CheckSuite) -> str:
    return hashlib.sha256(suite.to_json().encode()).hexdigest()[:16]


def _input_files(spark: SparkSession, input_path: str) -> list[str]:
    """Stable-ordered file manifest of the input table."""
    files = spark.read.parquet(input_path).inputFiles()
    return sorted(files)


@dataclass
class CheckpointedRun:
    """Driver for incremental validation of a file-backed table."""

    store_path: str  # directory holding checkpoints/ and violations/

    @property
    def _ckpt_path(self) -> str:
        return os.path.join(self.store_path, "checkpoints")

    @property
    def _viol_path(self) -> str:
        return os.path.join(self.store_path, "violations")

    def completed_files(self, spark: SparkSession, version: str) -> set[str]:
        try:
            # schema pinned: footer-based inference reads EVERY part
            # footer through a path that does not honor
            # ignoreCorruptFiles (a truncated part fails the whole
            # read with ChecksumException) — and a static schema also
            # avoids a footer-listing storm on a large ledger
            ck = spark.read.schema(_CKPT_SCHEMA).option(
                "ignoreCorruptFiles", "true"
            ).parquet(self._ckpt_path)
        except Exception:
            return set()
        rows = (
            ck.filter((F.col("check_version") == version) & (F.col("status") == "done"))
            .select(F.explode("file_manifest").alias("f"))
            .collect()
        )
        return {r["f"] for r in rows}

    def run(
        self,
        spark: SparkSession,
        input_path: str,
        suite: CheckSuite,
        vocab_tables: dict[str, DataFrame] | None = None,
        registry: SuiteRegistry | None = None,
        files_per_batch: int = 64,
        max_batches: int | None = None,
        run_id: str | None = None,
        max_violations_per_check: int | None = None,
    ) -> dict:
        """Validate all not-yet-checkpointed files. ``max_batches``
        lets tests simulate an interrupted run. Returns run metrics.

        NOTE: table-scope checks (uniqueness, contiguity, ...) are
        evaluated within each batch — batches are conversation-aligned
        only if the input files are; for global uniqueness across
        batches run the suite unbatched or key-partition the input.
        """
        version = check_version(suite)
        run_id = run_id or uuid.uuid4().hex[:12]
        all_files = _input_files(spark, input_path)
        done = self.completed_files(spark, version)
        todo = [f for f in all_files if f not in done]
        batches = [todo[i : i + files_per_batch] for i in range(0, len(todo), files_per_batch)]
        if max_batches is not None:
            batches = batches[:max_batches]

        totals = {"n_rows": 0, "n_violations": 0, "batches": 0, "skipped_files": len(done)}
        for batch in batches:
            t0 = time.perf_counter()
            batch_id = uuid.uuid4().hex[:12]
            # two-phase commit against the crash window: a 'started' row
            # lands BEFORE any violations, 'done' only after they are
            # fully written. A crash in between leaves orphan violation
            # rows whose batch_id has no 'done' checkpoint — readers
            # (violations()) filter those out, so resume reprocessing
            # the batch cannot double-count.
            self._append_ckpt(
                spark, batch_id, run_id, suite.name, version, batch, None, None, None, "started"
            )
            df = spark.read.parquet(*batch)
            # persist=True: the violations write fills the cached
            # violation union, summary() then reads it (CLAUDE.md
            # invariant: violations materialize FIRST)
            res = run_suite(
                df, suite, registry=registry, vocab_tables=vocab_tables, persist=True,
                max_violations_per_check=max_violations_per_check,
            )
            # with a cap, write the bounded deterministic sample per
            # batch (a broken check at 10^12 rows would otherwise write
            # a violations table as large as the input); exact counts
            # still land in the checkpoint row via summary()
            out_viols = res.violations_sample if max_violations_per_check else res.violations
            viols = out_viols.withColumn("batch_id", F.lit(batch_id)).withColumn(
                "run_id", F.lit(run_id)
            )
            viols.write.mode("append").parquet(self._viol_path)
            summary = res.summary()
            # a column-free count of the batch's files: no fused pass,
            # nothing cached (the same count the partition verdicts sum)
            n_rows = df.count()
            res.unpersist()
            wall = time.perf_counter() - t0
            self._append_ckpt(
                spark, batch_id, run_id, suite.name, version, batch,
                n_rows, summary["n_violations"], wall, "done",
            )
            totals["n_rows"] += n_rows
            totals["n_violations"] += summary["n_violations"]
            totals["batches"] += 1
        totals["remaining_files"] = len(todo) - sum(len(b) for b in batches)
        totals["check_version"] = version
        totals["run_id"] = run_id
        return totals

    def _append_ckpt(
        self, spark, batch_id, run_id, suite_name, version, batch, n_rows, n_viol, wall, status
    ) -> None:
        row = [
            (
                batch_id, run_id, suite_name, version, _snapshot_id(batch),
                list(batch), len(batch), n_rows, n_viol, wall, status,
            )
        ]
        spark.createDataFrame(row, _CKPT_SCHEMA).write.mode("append").parquet(self._ckpt_path)

    def violations(self, spark: SparkSession) -> DataFrame:
        """Committed violations only: rows from batches with a 'done'
        checkpoint. Orphans from a crash between the violations write
        and the 'done' row are excluded, so a resumed run's union equals
        a single-shot run even across crashes."""
        committed = (
            spark.read.schema(_CKPT_SCHEMA)
            .option("ignoreCorruptFiles", "true")
            .parquet(self._ckpt_path)
            .filter(F.col("status") == "done")
            .select("batch_id")
            .distinct()
        )
        return spark.read.parquet(self._viol_path).join(committed, "batch_id", "left_semi")

    def checkpoints(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(_CKPT_SCHEMA).option(
            "ignoreCorruptFiles", "true"
        ).parquet(self._ckpt_path)


def _snapshot_id(files: list[str]) -> str:
    """Input fingerprint standing in for the Iceberg snapshot id when
    running on raw parquet (with Iceberg, pass the real snapshot)."""
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
    return h.hexdigest()[:16]
