"""Resumable batch execution with per-partition lineage + metrics.

North-rule requirement (``BASELINE.json:14``): "resumable from checkpoint
with per-partition lineage + metrics". A job is split into named UNITS
(e.g. warc_ts days or url-hash buckets); each unit's output is committed to
an icelite table together with a lineage row. On restart, done units are
anti-joined away and only the remainder recomputes — unit processing must
be deterministic (everything in this engine is), so reruns are idempotent.

Lineage rows live in their own icelite table:
    (job_id, unit, status, output_rows, attempt, started_unix, finished_unix)

Lineage rows and done-unit lookups are metadata-sized (one row per unit),
so both run on the driver with pyarrow: a unit's commit costs one Spark job,
its data append, and a restart's done-unit lookup none.
"""

from __future__ import annotations

import time
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from gaia_spark.sources.icelite import IceTable

# the Spark DDL the lineage table was first written with, field for field
# ("job_id string, unit string, status string, output_rows long,
#   attempt int, started_unix double, finished_unix double")
LINEAGE_SCHEMA = pa.schema(
    [
        ("job_id", pa.string()),
        ("unit", pa.string()),
        ("status", pa.string()),
        ("output_rows", pa.int64()),
        ("attempt", pa.int32()),
        ("started_unix", pa.float64()),
        ("finished_unix", pa.float64()),
    ]
)


class ResumableJob:
    def __init__(self, spark: SparkSession, job_id: str, output: IceTable, lineage: IceTable):
        self.spark = spark
        self.job_id = job_id
        self.output = output
        self.lineage = lineage

    def done_units(self) -> set[str]:
        # one footer + three columns per lineage file; a dataset scan over
        # the file list (pq.read_table) costs ~2.5x more at this size
        rows = []
        for f in self.lineage.files():
            rows += pq.ParquetFile(f).read(columns=["job_id", "unit", "status"]).to_pylist()
        return {r["unit"] for r in rows if r["job_id"] == self.job_id and r["status"] == "done"}

    def run(
        self,
        units: list[str],
        process: Callable[[SparkSession, str], DataFrame],
        fail_after: int | None = None,
    ) -> dict:
        """Process every not-yet-done unit; each unit = one atomic commit of
        (data append, lineage append). ``fail_after`` aborts after N units —
        the crash-injection hook for resumability tests."""
        done = self.done_units()
        # exactly-once: prune data commits whose lineage row never landed
        # (crash between data-append and lineage-append), then recompute them
        self.output.rollback_uncommitted_units(self.job_id, done)
        pending = [u for u in units if u not in done]
        processed = 0
        for unit in pending:
            if fail_after is not None and processed >= fail_after:
                raise RuntimeError(f"injected failure after {processed} units")
            t0 = time.time()
            out = process(self.spark, unit)
            # ONE execution per unit: append() writes the data and records the
            # row count from the parquet footers in the commit manifest — a
            # separate count() action would re-run the whole unit plan.
            manifest = self.output.append(out, meta={"job_id": self.job_id, "unit": unit})
            n_out = manifest["meta"]["added_rows"]
            values = (self.job_id, unit, "done", n_out, 1, t0, time.time())
            row = dict(zip(LINEAGE_SCHEMA.names, values))
            self.lineage.append(pa.Table.from_pylist([row], schema=LINEAGE_SCHEMA))
            processed += 1
        return {"processed": processed, "skipped": len(units) - len(pending)}
