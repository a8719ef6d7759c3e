"""icelite snapshots + resumable-job exactly-once semantics (SURVEY.md §7 M5)."""

import pyarrow as pa
import pytest

from gaia_spark.sources.icelite import IceTable
from gaia_spark.sources.lineage import ResumableJob


def make_tables(tmp_path):
    return IceTable(str(tmp_path / "out")), IceTable(str(tmp_path / "lineage"))


def process(spark, unit):
    # deterministic per-unit output: 10 rows keyed by the unit
    return spark.range(10).selectExpr(f"'{unit}' AS unit", "id AS v")


UNITS = [f"day-{i}" for i in range(6)]


def test_snapshot_append_and_time_travel(spark, tmp_path):
    t = IceTable(str(tmp_path / "t"))
    t.append(spark.range(5).selectExpr("id AS v"))
    t.append(spark.range(3).selectExpr("id + 100 AS v"))
    assert t.read(spark).count() == 8
    assert t.read(spark, snapshot_id=1).count() == 5  # time travel
    t.overwrite(spark.range(2).selectExpr("id AS v"))
    assert t.read(spark).count() == 2
    assert len(t.snapshots()) == 3
    # a pyarrow table commits from the driver, same layout and schema
    t.overwrite(pa.table({"v": [7]}))
    assert [tuple(r) for r in t.read(spark).collect()] == [(7,)]
    assert t.read(spark).schema.simpleString() == "struct<v:bigint>"


def test_resume_skips_done_units(spark, tmp_path):
    out, lin = make_tables(tmp_path)
    job = ResumableJob(spark, "job1", out, lin)
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run(UNITS, process, fail_after=3)
    assert out.read(spark).count() == 30
    assert job.done_units() == set(UNITS[:3])

    stats = job.run(UNITS, process)  # resume
    assert stats == {"processed": 3, "skipped": 3}
    final = out.read(spark)
    assert final.count() == 60
    assert {r.unit for r in final.select("unit").distinct().collect()} == set(UNITS)
    # rerun is a no-op
    assert job.run(UNITS, process) == {"processed": 0, "skipped": 6}
    assert out.read(spark).count() == 60


def test_crash_between_data_and_lineage_is_rolled_back(spark, tmp_path):
    out, lin = make_tables(tmp_path)
    job = ResumableJob(spark, "job2", out, lin)
    # simulate torn commit: data appended with unit meta, lineage missing
    out.append(process(spark, "day-0"), meta={"job_id": "job2", "unit": "day-0"})
    assert out.read(spark).count() == 10
    stats = job.run(UNITS, process)
    assert stats["processed"] == 6  # day-0 recomputed, orphan pruned
    assert out.read(spark).count() == 60  # NOT 70 — exactly-once held


def test_resume_output_equals_oneshot(spark, tmp_path):
    out1, lin1 = make_tables(tmp_path / "a")
    ResumableJob(spark, "j", out1, lin1).run(UNITS, process)
    out2, lin2 = make_tables(tmp_path / "b")
    job2 = ResumableJob(spark, "j", out2, lin2)
    with pytest.raises(RuntimeError):
        job2.run(UNITS, process, fail_after=2)
    job2.run(UNITS, process)
    a = {tuple(r) for r in out1.read(spark).collect()}
    b = {tuple(r) for r in out2.read(spark).collect()}
    assert a == b


def test_unit_plan_executes_exactly_once(spark, tmp_path):
    """run() must not re-execute a unit's plan to count rows (the old
    count()-then-append pattern doubled every unit's work)."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import LongType

    acc = spark.sparkContext.accumulator(0)

    def bump(v):
        acc.add(1)
        return v

    bump_udf = F.udf(bump, LongType())

    def counted_process(spark_, unit):
        return spark_.range(10).select(F.lit(unit).alias("unit"), bump_udf("id").alias("v"))

    out, lin = make_tables(tmp_path)
    ResumableJob(spark, "job_once", out, lin).run(["u0", "u1"], counted_process)
    assert acc.value == 20  # 2 units x 10 rows, each row evaluated ONCE
    lrows = {r.unit: r.output_rows for r in lin.read(spark).collect()}
    assert lrows == {"u0": 10, "u1": 10}  # manifest-sourced counts are right


def test_empty_snapshot_read_preserves_schema(spark, tmp_path):
    """A rollback that prunes every file must still read back as an empty
    DataFrame with the ORIGINAL schema (StructType reconstructed from the
    manifest's schema json)."""
    t = IceTable(str(tmp_path / "t_empty"))
    t.append(
        spark.range(3).selectExpr("id AS v", "'x' AS s"),
        meta={"job_id": "j", "unit": "day-9"},
    )
    assert t.rollback_uncommitted_units("j", done_units=set()) == 1
    df = t.read(spark)
    assert df.count() == 0
    assert [f.name for f in df.schema] == ["v", "s"]


def test_stream_batch_replay_is_skipped(spark, tmp_path):
    """Checkpoint replay after a crash re-delivers the in-flight batch id to
    a FRESH process; the durable manifest record must dedupe it."""
    from gaia_spark.streaming.ingest import write_stream_batch

    path = str(tmp_path / "stream_t")
    t1 = IceTable(path)
    batch = spark.range(7).selectExpr("id AS v")
    assert write_stream_batch(t1, batch, 0) is True
    # new table handle = simulated process restart (no in-memory state)
    t2 = IceTable(path)
    assert write_stream_batch(t2, batch, 0) is False  # replayed id skipped
    assert write_stream_batch(t2, batch, 1) is True
    assert t2.read(spark).count() == 14


def test_quoted_job_id_crash_and_resume(spark, tmp_path):
    """A job id holding a quote must survive the done-unit lookup (it was
    once spliced into a SQL string and raised a ParseException)."""
    out, lin = make_tables(tmp_path)
    job = ResumableJob(spark, "o'brien", out, lin)
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run(UNITS, process, fail_after=2)
    assert job.done_units() == set(UNITS[:2])
    assert job.run(UNITS, process) == {"processed": 4, "skipped": 2}
    assert out.read(spark).count() == 60
    # another job's lineage rows in the same table are not this job's
    assert ResumableJob(spark, "o'brien2", out, lin).done_units() == set()


def test_resumable_run_costs_one_spark_job_per_unit(spark, tmp_path):
    """Per unit, only the data append runs on Spark: the done-unit lookup,
    the rollback of an orphaned commit and the lineage appends run on the
    driver and trigger no Spark job."""
    out, lin = make_tables(tmp_path)
    job = ResumableJob(spark, "jobs", out, lin)
    with pytest.raises(RuntimeError):
        job.run(UNITS, process, fail_after=2)
    # a torn commit for the next unit: data landed, lineage did not
    out.append(process(spark, UNITS[2]), meta={"job_id": "jobs", "unit": UNITS[2]})

    sc = spark.sparkContext
    group = f"resumable-jobs-{tmp_path.name}"
    sc.setJobGroup(group, "ResumableJob.run resume")
    try:
        stats = job.run(UNITS, process)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert stats == {"processed": 4, "skipped": 2}
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events land asynchronously
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == stats["processed"]
    assert out.read(spark).count() == 60  # the orphan was rolled back


def test_lineage_mixes_spark_and_arrow_rows(spark, tmp_path):
    """A lineage table first written by Spark (one row per unit as a
    DataFrame) keeps reading back with the same schema once the driver
    appends pyarrow-written rows to it."""
    ddl = (
        "job_id string, unit string, status string, output_rows long, "
        "attempt int, started_unix double, finished_unix double"
    )
    out, lin = make_tables(tmp_path)
    lin.append(spark.createDataFrame([("mix", UNITS[0], "done", 10, 1, 0.0, 1.0)], ddl))
    old_schema = spark.createDataFrame([], ddl).schema
    job = ResumableJob(spark, "mix", out, lin)
    assert job.done_units() == {UNITS[0]}
    assert job.run(UNITS, process) == {"processed": 5, "skipped": 1}

    df = lin.read(spark)
    assert df.schema == old_schema
    assert lin._current_snapshot()["schema"] == old_schema.json()
    rows = df.collect()
    assert sorted(r.unit for r in rows) == UNITS
    assert {(r.status, r.attempt) for r in rows} == {("done", 1)}
    assert job.done_units() == set(UNITS)
