"""Kill-and-resume: a run killed mid-way resumes from the manifest and
produces exactly the same violations as an uninterrupted run
(SURVEY.md §5 engine test plan: "kill-and-resume from manifest")."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from typical_spark import checkpoint, compile_table_spec
from typical_spark.checkpoint import CheckpointedRun
from typical_spark.specs import transcript_spec


@pytest.fixture()
def bucketed_df(spark, transcripts_df):
    return transcripts_df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(8)).cast("int")
    )


def test_kill_and_resume_produces_identical_output(spark, bucketed_df):
    plan = compile_table_spec(transcript_spec())
    full_expected = plan.violations(bucketed_df, with_message=False).count()

    tmp = tempfile.mkdtemp(prefix="ckpt_")
    try:
        run = CheckpointedRun(spark, plan, tmp, run_id="r1")
        with pytest.raises(RuntimeError, match="injected failure"):
            run.run(bucketed_df, fail_after=3)
        assert len(run.completed_buckets()) == 3

        # resume: picks up only the remaining buckets
        summary = CheckpointedRun(spark, plan, tmp, run_id="r1").run(bucketed_df)
        assert summary["buckets_previously_done"] == 3
        assert summary["buckets_processed"] == summary["buckets_total"] - 3

        got = run.violations().count()
        assert got == full_expected

        # manifest lineage covers every bucket exactly once, with metrics
        m = run.manifest().collect()
        assert sorted(r["bucket"] for r in m) == sorted(
            r[0] for r in bucketed_df.select("bucket").distinct().collect()
        )
        assert all(r["n_rows"] > 0 and r["wall_s"] >= 0 for r in m)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _rows(df):
    return sorted(df.collect(), key=lambda r: tuple(str(v) for v in r))


def test_crash_between_write_and_manifest_commit(spark, bucketed_df, monkeypatch, tmp_path):
    """The commit window: a unit's violations are written, then the
    manifest rename fails. No row for that unit (and no temporary file)
    may be visible, a resumed run re-processes exactly that unit, and the
    output equals an uninterrupted run's."""
    plan = compile_table_spec(transcript_spec())
    buckets = sorted(r[0] for r in bucketed_df.select("bucket").distinct().collect())
    last = buckets[-1]
    ref = CheckpointedRun(spark, plan, str(tmp_path / "ref"), run_id="ref")
    ref.run(bucketed_df)

    out = str(tmp_path / "crash")
    run = CheckpointedRun(spark, plan, out, run_id="r")
    real_replace, commits = os.replace, []

    def crash_on_last_commit(src, dst):
        commits.append(dst)
        if len(commits) == len(buckets):
            raise OSError("injected crash before the manifest rename")
        real_replace(src, dst)

    with monkeypatch.context() as m:
        m.setattr(checkpoint.os, "replace", crash_on_last_commit)
        with pytest.raises(OSError, match="injected crash"):
            run.run(bucketed_df)
    assert os.path.exists(os.path.join(out, "violations", f"bucket={last}", "_SUCCESS"))
    assert run.completed_buckets() == set(buckets[:-1])
    assert run.manifest().where(F.col("bucket") == last).count() == 0
    assert not [f for f in os.listdir(run.manifest_path) if f.endswith(".tmp")]

    summary = CheckpointedRun(spark, plan, out, run_id="r").run(bucketed_df)
    assert summary["buckets_processed"] == 1
    assert sorted(r["bucket"] for r in run.manifest().collect()) == buckets
    assert _rows(run.violations()) == _rows(ref.violations())


MANIFEST_DDL = (
    "run_id string, bucket int, status string, n_rows long, "
    "n_violations long, wall_s double, finished_at double, "
    "fingerprint long, mode string"
)


def test_manifest_format_and_fingerprints(spark, bucketed_df, tmp_path):
    """The manifest keeps the schema Spark used to write, reads back when
    Spark-written (older) and driver-written files share a directory,
    and records the same fingerprint `bucket_fingerprints` computes and
    the same counts a separate count() gives."""
    plan = compile_table_spec(transcript_spec())
    out = str(tmp_path / "ckpt")
    # an older manifest file, committed by a Spark job
    spark.createDataFrame(
        [("old", 99, "done", 5, 1, 0.1, 1.0, 123, "validated")], MANIFEST_DDL
    ).coalesce(1).write.parquet(os.path.join(out, "manifest"))
    run = CheckpointedRun(spark, plan, out, run_id="new")
    run.run(bucketed_df)

    m = run.manifest()
    assert m.schema == spark.createDataFrame([], MANIFEST_DDL).schema
    assert CheckpointedRun(spark, plan, out, run_id="old").completed_buckets() == {99}
    assert run.latest_fingerprints()[99] == (123, 5, 1)
    assert m.where(F.col("run_id") == "old").count() == 1

    rows = m.where(F.col("run_id") == "new").collect()
    fps = run.bucket_fingerprints(bucketed_df)
    assert run.completed_buckets() == set(fps)
    assert {r["bucket"]: r["fingerprint"] for r in rows} == fps
    for r in rows:
        part = bucketed_df.where(F.col("bucket") == r["bucket"])
        assert r["n_rows"] == part.count()
        assert r["n_violations"] == plan.violations(part, with_message=False).count()


def test_incremental_revalidates_every_bucket_when_the_plan_changes(
    spark, bucketed_df, tmp_path
):
    """Carried violations were computed under some plan: an incremental
    run under a different spec must re-validate every bucket though no
    row changed, and end with that spec's output. Rows from before the
    manifest recorded plans (plan NULL) are not carried either."""
    import dataclasses

    df = bucketed_df.localCheckpoint()
    spec = transcript_spec()
    no_role = dataclasses.replace(spec, fields=tuple(
        dataclasses.replace(f, checks=()) if f.name == "role" else f
        for f in spec.fields
    ))
    out = str(tmp_path / "ckpt")
    full = CheckpointedRun(spark, compile_table_spec(spec), out, run_id="full")
    full.run(df)
    before = _rows(full.violations())

    inc = CheckpointedRun(spark, compile_table_spec(no_role), out, run_id="inc")
    s = inc.run_incremental(df)
    assert s["buckets_carried"] == 0
    assert s["buckets_validated"] == s["buckets_total"]
    ref = CheckpointedRun(
        spark, compile_table_spec(no_role), str(tmp_path / "ref"), run_id="ref"
    )
    ref.run(df)
    assert _rows(inc.violations()) == _rows(ref.violations()) != before

    # the same spec compiled again matches the recorded plan: all carried
    again = CheckpointedRun(spark, compile_table_spec(no_role), out, run_id="again")
    s = again.run_incremental(df)
    assert s["buckets_carried"] == s["buckets_total"]

    # an older manifest row (no plan column) with the current fingerprint
    old_out = str(tmp_path / "old")
    b = df.select("bucket").head()["bucket"]
    fp = again.bucket_fingerprints(df)[b]
    spark.createDataFrame(
        [("old", b, "done", 1, 0, 0.1, 1.0, fp, "validated")], MANIFEST_DDL
    ).coalesce(1).write.parquet(os.path.join(old_out, "manifest"))
    upgraded = CheckpointedRun(spark, compile_table_spec(spec), old_out, run_id="new")
    assert upgraded.run_incremental(df)["buckets_carried"] == 0


def test_resume_revalidates_buckets_done_under_another_plan(spark, transcripts_df, tmp_path):
    """A run crashes under one spec and the same run id resumes under
    another: the bucket finished before the crash was validated under
    the old plan, so it is re-validated, and the output equals a fresh
    run under the new spec."""
    import dataclasses

    df = transcripts_df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(2)).cast("int")
    ).localCheckpoint()
    spec = transcript_spec()
    no_role = dataclasses.replace(spec, fields=tuple(
        dataclasses.replace(f, checks=()) if f.name == "role" else f
        for f in spec.fields
    ))
    out = str(tmp_path / "ckpt")
    crashed = CheckpointedRun(spark, compile_table_spec(spec), out, run_id="r")
    with pytest.raises(RuntimeError, match="injected failure"):
        crashed.run(df, fail_after=1)
    assert crashed.completed_buckets() == {0}
    old_bucket0 = _rows(crashed.violations().where("bucket = 0"))

    resumed = CheckpointedRun(spark, compile_table_spec(no_role), out, run_id="r")
    assert resumed.completed_buckets() == set()
    assert resumed.run(df)["buckets_processed"] == 2
    fresh = CheckpointedRun(spark, compile_table_spec(no_role), str(tmp_path / "ref"), run_id="r")
    fresh.run(df)
    got = _rows(resumed.violations().where("bucket = 0"))
    assert got == _rows(fresh.violations().where("bucket = 0")) != old_bucket0
    assert _rows(resumed.violations()) == _rows(fresh.violations())


def test_rerun_is_noop(spark, bucketed_df):
    plan = compile_table_spec(transcript_spec())
    tmp = tempfile.mkdtemp(prefix="ckpt_")
    try:
        CheckpointedRun(spark, plan, tmp, run_id="r2").run(bucketed_df)
        again = CheckpointedRun(spark, plan, tmp, run_id="r2").run(bucketed_df)
        assert again["buckets_processed"] == 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_incremental_revalidation_only_changed_buckets(spark, bucketed_df):
    """Nightly-rerun mode: after a full run, an incremental run over an
    UNCHANGED table carries every bucket (zero validated); mutating one
    bucket's rows re-validates exactly that bucket, and the violations
    sink reflects the mutation while untouched buckets keep their
    output. The fingerprint is order-independent (repartition does not
    dirty buckets)."""
    plan = compile_table_spec(transcript_spec())
    tmp = tempfile.mkdtemp(prefix="ckpt_inc_")
    try:
        df = bucketed_df.localCheckpoint()  # freeze content for mutation
        run = CheckpointedRun(spark, plan, tmp, run_id="full")
        run.run(df)
        base_vio = run.violations().count()

        # unchanged table (even reshuffled) -> all carried
        inc = CheckpointedRun(spark, plan, tmp, run_id="inc1")
        s1 = inc.run_incremental(df.repartition(16))
        assert s1["buckets_validated"] == 0
        assert s1["buckets_carried"] == s1["buckets_total"]
        assert run.violations().count() == base_vio

        # mutate ONE bucket: blank a required field in some of its rows
        target = df.select("bucket").head()["bucket"]
        mutated = df.withColumn(
            "role",
            F.when(
                (F.col("bucket") == target)
                & (F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(5)) == 0),
                F.lit(None).cast("string"),
            ).otherwise(F.col("role")),
        )
        inc2 = CheckpointedRun(spark, plan, tmp, run_id="inc2")
        s2 = inc2.run_incremental(mutated)
        assert s2["buckets_validated"] == 1
        assert s2["buckets_carried"] == s2["buckets_total"] - 1
        # the new null-role violations landed in the rewritten bucket
        assert inc2.violations().count() > base_vio
        m = {r["bucket"]: r["mode"] for r in
             inc2.manifest().where(F.col("run_id") == "inc2").collect()}
        assert m[target] == "validated"
        assert all(v == "carried" for b, v in m.items() if b != target)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_validate_job_incremental_flag(spark, transcripts_df, tmp_path):
    """--incremental on the cluster entrypoint: the first nightly run
    validates every bucket, an immediate rerun over the unchanged input
    carries all of them forward (fingerprint diff, zero re-validation)."""
    from jobs.validate_transcripts import main

    inp = str(tmp_path / "in")
    transcripts_df.limit(2000).withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(4)).cast("int")
    ).write.parquet(inp)
    out = str(tmp_path / "out")
    assert main(["--input", inp, "--out", out,
                 "--run-id", "n1", "--incremental"]) == 0
    assert main(["--input", inp, "--out", out,
                 "--run-id", "n2", "--incremental"]) == 0
    m = spark.read.parquet(f"{out}/manifest").collect()
    modes = {}
    for r in m:
        modes.setdefault(r["run_id"], []).append(r["mode"])
    assert set(modes["n1"]) == {"validated"}
    assert set(modes["n2"]) == {"carried"}
    assert len(modes["n2"]) == len(modes["n1"])


def test_validate_job_checkpointed_rejects_iceberg_out(capsys):
    """The checkpoint manifest commits by file rename, so --checkpointed
    and --incremental refuse an iceberg:// --out before any Spark work."""
    from jobs.validate_transcripts import main

    for flag in ("--checkpointed", "--incremental"):
        with pytest.raises(SystemExit) as exc:
            main(["--input", "in", "--out", "iceberg://cat.db", flag])
        assert exc.value.code == 2
        assert "need a directory --out" in capsys.readouterr().err


def test_stage_checkpoint_marker_counts_the_written_rows(spark, tmp_path):
    """The marker's n_rows is observed on the stage's write, not counted
    by a second job over the read-back; it must still equal the rows
    the stage holds, empty stages included."""
    import json

    from typical_spark.checkpoint import StageCheckpoint

    ck = StageCheckpoint(spark, str(tmp_path / "ck"))
    for name, df in (("some", spark.range(37).where("id % 3 != 0")),
                     ("none", spark.range(5).where("id > 9"))):
        out, resumed = ck.stage(name, lambda df=df: df)
        assert not resumed
        with open(tmp_path / "ck" / f"{name}.stage.json") as fh:
            assert json.load(fh)["n_rows"] == out.count() == df.count()
