"""Checkpoint/lineage/resume tests (north_rule resumability clause).

Simulated interruption: run the pipeline on a PARTIAL corpus slice (as if
the job died after some buckets committed), then resume with the full
corpus under the same run_scope. Asserts: no duplicate lineage completions,
skipped buckets are not reprocessed, and the final triples equal a clean
uninterrupted run.
"""

import os

import pytest
from pyspark.sql import functions as F

from cmc_knowledge_graph_text2ttl_spark.plans import KgPipeline
from cmc_knowledge_graph_text2ttl_spark.sinks import triples_to_nt_lines
from cmc_knowledge_graph_text2ttl_spark.sources import synth_pages_df
from cmc_knowledge_graph_text2ttl_spark.workflow import compile_workflow

N = 120


def nt(df):
    rows = [
        (r.subj, r.pred, r.obj_kind, r.obj_lexical, r.obj_lang, r.obj_datatype)
        for r in df.collect()
    ]
    return triples_to_nt_lines(rows)


@pytest.fixture()
def pages(spark):
    return synth_pages_df(spark, N, slices=4)


def test_full_run_and_lineage(spark, fixture_programs, pages, tmp_path):
    pipe = KgPipeline(
        spark, str(tmp_path / "wd"), fixture_programs, run_scope="r1", n_buckets=8
    )
    out = pipe.run(pages)
    assert out["triples"].count() > 0
    lin = pipe.lineage()
    stages = {r.stage for r in lin.collect()}
    assert stages == {"extract", "results", "triples", "canonical"}
    # exactly one completion per (stage, bucket)
    dupes = (
        lin.groupBy("run_scope", "stage", "bucket", "input_token").count().filter("count > 1").count()
    )
    assert dupes == 0
    # lineage carries url ranges and counts
    row = lin.filter("stage = 'results'").first()
    assert row.n_rows > 0 and row.url_min is not None and row.latency_ms >= 0


def test_interrupted_resume_idempotent(spark, fixture_programs, pages, tmp_path):
    wd = str(tmp_path / "wd")
    # Clean reference run in a separate workdir.
    ref = KgPipeline(
        spark, str(tmp_path / "ref"), fixture_programs, run_scope="r", n_buckets=8
    ).run(pages)
    ref_nt = nt(ref["canonical"])

    # "Interrupted" run: only half the corpus reaches the pipeline before
    # the crash (some buckets complete, some never start).
    partial = pages.filter(F.xxhash64("url") % 2 == 0)
    pipe1 = KgPipeline(spark, wd, fixture_programs, run_scope="r", n_buckets=8)
    pipe1.run(partial)
    lin1 = {
        (r.stage, r.bucket) for r in pipe1.lineage().filter("status='done'").collect()
    }
    assert lin1  # something committed before the "crash"

    # Resume with the full corpus under the same scope.
    pipe2 = KgPipeline(spark, wd, fixture_programs, run_scope="r", n_buckets=8)
    out2 = pipe2.run(pages)

    lin2 = pipe2.lineage().filter("status='done'")
    dupes = (
        lin2.groupBy("run_scope", "stage", "bucket", "input_token").count().filter("count > 1").count()
    )
    assert dupes == 0, "resume must not duplicate lineage completions"
    # NOTE: resume semantics are bucket-level (a bucket is the unit of
    # work). The url-hash filter above splits INSIDE buckets, so run-1's
    # completed buckets legitimately keep their partial rows; the
    # bucket-boundary test below checks exact output equality. Here:
    # everything the resumed run produced must be valid clean-run output.
    assert set(nt(out2["triples"])) <= set(nt(ref["triples"]))


def test_bucket_complete_interrupt_resume_equals_clean_run(
    spark, fixture_programs, pages, tmp_path
):
    wd = str(tmp_path / "wd")
    ref = KgPipeline(
        spark, str(tmp_path / "ref"), fixture_programs, run_scope="r", n_buckets=8
    ).run(pages)
    ref_nt = nt(ref["canonical"])

    # Interrupt at a bucket boundary: buckets 0-3 fully processed, then crash.
    pipe1 = KgPipeline(spark, wd, fixture_programs, run_scope="r", n_buckets=8)
    half = pipe1.add_bucket(pages).filter("bucket < 4").drop("bucket")
    pipe1.run(half)
    done_before = pipe1.lineage().filter("stage='extract'").count()
    assert done_before <= 4

    pipe2 = KgPipeline(spark, wd, fixture_programs, run_scope="r", n_buckets=8)
    out2 = pipe2.run(pages)
    # Completed buckets were skipped: their extract lineage rows unchanged.
    lin = pipe2.lineage().filter("stage='extract' and status='done'")
    assert lin.count() == 8
    dupes = lin.groupBy("bucket").count().filter("count > 1").count()
    assert dupes == 0
    assert nt(out2["canonical"]) == ref_nt


def test_different_scope_reprocesses(spark, fixture_programs, pages, tmp_path):
    wd = str(tmp_path / "wd")
    KgPipeline(spark, wd, fixture_programs, run_scope="a", n_buckets=4).run(pages)
    pipe_b = KgPipeline(spark, wd, fixture_programs, run_scope="b", n_buckets=4)
    out = pipe_b.run(pages)
    assert out["triples"].count() > 0
    assert pipe_b.lineage().filter("run_scope='b'").count() > 0


def test_bucket_layout_enables_partition_pruning(spark, fixture_programs, pages, tmp_path):
    """Reading one bucket from a stage checkpoint must prune to that
    partition directory (PartitionFilters in the scan, not a full scan)."""
    pipe = KgPipeline(
        spark, str(tmp_path / "wd"), fixture_programs, run_scope="r", n_buckets=8,
        canonicalize=False,
    )
    pipe.run(pages)
    tri = spark.read.parquet(str(tmp_path / "wd" / "triples")).filter("bucket = 3")
    plan = tri._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(bucket" in plan.replace("#", " #").replace(
        "bucket #", "bucket#"
    ) or "PartitionFilters: [isnotnull(bucket" in plan
    # and the data actually comes back bucket-pure
    assert {r.bucket for r in tri.select("bucket").distinct().collect()} == {3}


def _pipe(spark, programs, wd):
    return KgPipeline(spark, wd, programs, run_scope="r", n_buckets=8)


def _done(pipe):
    return pipe.lineage().filter("status = 'done'")


def assert_lineage_matches_data(spark, pipe):
    """Each stage's done lineage counts its checkpoint exactly, per bucket."""
    lin = _done(pipe)
    for stage in ("extract", "results", "triples", "canonical"):
        rows = lin.filter(F.col("stage") == stage)
        if stage == "canonical":
            # a global stage is recomputed whole: its live rows are the last append
            rows = rows.filter(F.col("ts") == rows.agg(F.max("ts")).first()[0])
        rows = rows.collect()
        assert len({r.bucket for r in rows}) == len(rows), stage
        data = spark.read.parquet(os.path.join(pipe.workdir, stage))
        counts = {r.bucket: r["count"] for r in data.groupBy("bucket").count().collect()}
        assert {r.bucket: r.n_rows for r in rows} == counts, stage
        if stage == "results":
            sums = data.groupBy("bucket").agg(F.sum("no_triples").alias("s"))
            assert {r.bucket: r.n_triples for r in rows} == {
                r.bucket: r.s for r in sums.collect()
            }


def test_lineage_counts_equal_checkpoint_data(spark, fixture_programs, pages, tmp_path):
    fresh = _pipe(spark, fixture_programs, str(tmp_path / "fresh"))
    fresh.run(pages)
    assert_lineage_matches_data(spark, fresh)

    wd = str(tmp_path / "wd")
    first = _pipe(spark, fixture_programs, wd)
    first.run(first.add_bucket(pages).filter("bucket < 4").drop("bucket"))
    resumed = _pipe(spark, fixture_programs, wd)
    resumed.run(pages)
    assert_lineage_matches_data(spark, resumed)


class _Crash(RuntimeError):
    pass


def _crash_once(monkeypatch, stage):
    """Make the next lineage append of ``stage`` raise. The append runs
    after the stage's data write, so this is a crash between the data
    write and the lineage commit."""
    real = KgPipeline._append_lineage

    def append(self, st, *args, **kwargs):
        if st == stage:
            monkeypatch.setattr(KgPipeline, "_append_lineage", real)
            raise _Crash(stage)
        return real(self, st, *args, **kwargs)

    monkeypatch.setattr(KgPipeline, "_append_lineage", append)


def test_crash_before_lineage_commit_resumes_to_clean_run(
    spark, fixture_programs, pages, tmp_path, monkeypatch
):
    ref = _pipe(spark, fixture_programs, str(tmp_path / "ref")).run(pages)
    ref_nt = nt(ref["canonical"])
    wd = str(tmp_path / "wd")

    _crash_once(monkeypatch, "results")
    first = _pipe(spark, fixture_programs, wd)
    with pytest.raises(_Crash):
        first.run(pages)
    assert spark.read.parquet(os.path.join(wd, "results")).count() > 0
    assert {r.stage for r in _done(first).collect()} == {"extract"}

    # the resume redoes results and triples, then crashes inside canonical
    _crash_once(monkeypatch, "canonical")
    with pytest.raises(_Crash):
        _pipe(spark, fixture_programs, wd).run(pages)
    assert os.path.isdir(os.path.join(wd, "canonical"))
    assert {r.stage for r in _done(first).collect()} == {"extract", "results", "triples"}

    last = _pipe(spark, fixture_programs, wd)
    out = last.run(pages)
    assert nt(out["canonical"]) == ref_nt
    lin = _done(last)
    assert lin.groupBy("stage", "bucket").count().filter("count > 1").count() == 0
    per_stage = {r.stage: r["count"] for r in lin.groupBy("stage").count().collect()}
    assert per_stage["extract"] == per_stage["results"] == per_stage["triples"] == 8
    assert per_stage["canonical"] > 0

    # `first` still holds its pre-crash lineage rows in memory; run() must
    # reread them from disk, so this rerun is a no-op that appends nothing
    n_rows = lin.count()
    first.run(pages)
    assert _done(first).count() == n_rows


def test_job_counts_bounded(spark, fixture_programs, pages, tmp_path):
    """The bookkeeping (one lineage read per run, one stats job and one
    lineage append per stage) must not grow back into per-stage collects.
    Bounds are the counts measured on this fixture at local[4]; reading
    lineage per check and building frames from Python RDDs took 43 fresh
    and 20 no-op resume jobs, and a persist-count-collect size probe in
    connected components 28 fresh."""
    sc = spark.sparkContext
    wd = str(tmp_path / "wd")

    def jobs(group):
        sc.setJobGroup(group, "KgPipeline job-count probe")
        try:
            _pipe(spark, fixture_programs, wd).run(pages)
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("kg-pipeline-jobs-fresh") <= 25
    assert jobs("kg-pipeline-jobs-resume") <= 12


_SAMEAS_WF = """
- match-every: 'T=(\\w+)'
  as: t
  do:
    - subject: http://e/@{t.1}
      predicate: http://e/p
      object: v
- match-every: 'SAME=(\\w+),(\\w+)'
  as: m
  do:
    - subject: http://e/@{m.1}
      predicate: http://www.w3.org/2002/07/owl#sameAs
      object: {iri: 'http://e/@{m.2}'}
"""


def test_recomputed_global_stage_leaves_no_stale_bucket(spark, tmp_path):
    """With 4 buckets, doc://stale/1 is in url bucket 1 and doc://stale/3 in
    url bucket 0; http://e/zzz is in subject bucket 0, http://e/aaa in 1.
    The first canonical computation writes <zzz> into subject bucket 0.
    The resume adds doc://stale/3, so the triples token changes and
    canonical is recomputed: zzz sameAs aaa rewrites <zzz> to <aaa>, which
    leaves subject bucket 0 with no rows."""
    programs = [compile_workflow(_SAMEAS_WF, "sameas")]
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    first = [("doc://stale/1", None, None, "T=zzz", "en")]
    both = first + [("doc://stale/3", None, None, "SAME=zzz,aaa", "en")]

    def run(wd, rows):
        pipe = KgPipeline(spark, str(tmp_path / wd), programs, run_scope="r", n_buckets=4)
        return pipe, pipe.run(spark.createDataFrame(rows, schema))

    run("wd", first)
    pipe, out = run("wd", both)
    _, ref = run("ref", both)

    canon = pipe.lineage().filter("stage = 'canonical'").collect()
    assert len({r.input_token for r in canon}) == 2
    assert {r.bucket for r in canon} == {0, 1}
    assert {r.bucket for r in ref["canonical"].collect()} == {1}
    assert sorted(pipe._read_stage("canonical").collect()) == sorted(ref["canonical"].collect())
    assert sorted(nt(out["canonical"])) == sorted(nt(ref["canonical"]))


def test_run_leaves_the_session_overwrite_mode_alone(spark, fixture_programs, pages, tmp_path):
    """Each stage passes its overwrite mode on its own write, so a caller's
    later partitioned overwrite on the same session keeps the session's
    mode."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    before = spark.conf.get(key)
    KgPipeline(spark, str(tmp_path / "wd"), fixture_programs, run_scope="r", n_buckets=4).run(pages)
    assert spark.conf.get(key) == before
