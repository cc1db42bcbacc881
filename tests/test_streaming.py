"""Structured Streaming tests: stream == batch output and exactly-once
restart. File source + availableNow triggers.
"""

import pytest

from cmc_knowledge_graph_text2ttl_spark.operators import explode_triples
from cmc_knowledge_graph_text2ttl_spark.operators.run import extract_and_run_workflows
from cmc_knowledge_graph_text2ttl_spark.sinks import triples_to_nt_lines
from cmc_knowledge_graph_text2ttl_spark.sources import synth_pages_df
from cmc_knowledge_graph_text2ttl_spark.streaming import read_pages_stream, stream_triples


@pytest.fixture(scope="module")
def pages_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "pages")
    synth_pages_df(spark, 120, slices=4).write.mode("overwrite").parquet(path)
    return path


def nt(df):
    return triples_to_nt_lines(
        [
            (r.subj, r.pred, r.obj_kind, r.obj_lexical, r.obj_lang, r.obj_datatype)
            for r in df.collect()
        ]
    )


def test_stream_triples_equals_batch(spark, fixture_programs, pages_path, tmp_path):
    out = str(tmp_path / "triples_out")
    cp = str(tmp_path / "cp")
    q = stream_triples(
        read_pages_stream(spark, pages_path, max_files_per_trigger=2),
        fixture_programs,
        out_path=out,
        checkpoint=cp,
    )
    q.awaitTermination(120)
    got = nt(spark.read.parquet(out))
    batch = nt(
        explode_triples(
            extract_and_run_workflows(
                spark.read.parquet(pages_path), fixture_programs
            ),
            winners_only=True,
        )
    )
    assert got == batch and len(got) > 0


def test_stream_restart_is_exactly_once(spark, fixture_programs, pages_path, tmp_path):
    out = str(tmp_path / "o")
    cp = str(tmp_path / "c")
    q1 = stream_triples(
        read_pages_stream(spark, pages_path), fixture_programs, out, cp
    )
    q1.awaitTermination(120)
    n1 = spark.read.parquet(out).count()
    # restart against the same checkpoint: no new files → no new rows
    q2 = stream_triples(
        read_pages_stream(spark, pages_path), fixture_programs, out, cp
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n1

