"""Spark integration tests: e2e pipeline, oracle equivalence (P/R), and
distributed-equivalence (partitioning must not change results).
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from cmc_knowledge_graph_text2ttl_spark.operators import (
    explode_triples,
    extract_text,
    run_workflows,
)
from cmc_knowledge_graph_text2ttl_spark.operators.best import select_best_workflow
from cmc_knowledge_graph_text2ttl_spark.operators.extract import extract_one
from cmc_knowledge_graph_text2ttl_spark.sinks import triples_to_nt_lines
from cmc_knowledge_graph_text2ttl_spark.sources import synth_pages_df, synth_page_rows
from cmc_knowledge_graph_text2ttl_spark.workflow import run_document
from cmc_knowledge_graph_text2ttl_spark.workflow.sparql import MiniGraph, make_query_fn
from cmc_knowledge_graph_text2ttl_spark.operators.run import (
    doc_vars_for_url,
    extract_and_run_workflows,
)

from conftest import wf

N_DOCS = 150

# the two entry points into the one workflow kernel
ENTRY_POINTS = {
    "staged": lambda pages, programs, **kw: run_workflows(
        extract_text(pages), programs, **kw
    ),
    "fused": extract_and_run_workflows,
}


@pytest.fixture(scope="module")
def ranked(spark, fixture_programs):
    pages = synth_pages_df(spark, N_DOCS)
    res = select_best_workflow(run_workflows(extract_text(pages), fixture_programs))
    res.cache()
    res.count()
    return res


class TestEndToEnd:
    def test_row_counts(self, ranked, fixture_programs):
        n_extracted = ranked.select("url").distinct().count()
        assert ranked.count() == n_extracted * len(fixture_programs)

    def test_one_winner_per_url(self, ranked):
        bad = (
            ranked.filter("is_best")
            .groupBy("url")
            .count()
            .filter("count != 1")
            .count()
        )
        assert bad == 0

    def test_triples_produced(self, ranked):
        tri = explode_triples(ranked, winners_only=True)
        assert tri.count() > N_DOCS  # every doc family emits multiple triples

    def test_no_unexpected_errors(self, ranked):
        assert ranked.filter("error is not null").count() == 0


class TestOracleEquivalence:
    """Distributed result == single-process oracle interpreter result.

    This is the golden P/R gate (BASELINE.md row 1): on the fixture corpus
    precision and recall must be 1.0.
    """

    def test_triples_match_oracle_exactly(self, spark, ranked, fixture_programs):
        engine = {}
        rows = explode_triples(ranked.drop("is_best")).collect()
        for r in rows:
            engine.setdefault((r.url, r.workflow), []).append(
                (r.subj, r.pred, r.obj_kind, r.obj_lexical, r.obj_lang, r.obj_datatype)
            )
        oracle = {}
        for url, ts, html, _, lang in synth_page_rows(N_DOCS):
            text, ctype, err = extract_one(html)
            if err:
                continue
            for prog in fixture_programs:
                res = run_document(text, prog, doc_vars=doc_vars_for_url(url))
                if res.error is None and res.triples:
                    oracle[(url, prog.name)] = res.triples
        assert set(engine) == set(oracle)
        for key in oracle:
            assert sorted(engine[key]) == sorted(oracle[key]), key

    def test_stats_match_oracle(self, ranked, fixture_programs):
        got = {
            (r.url, r.workflow): (r.no_matches, r.no_triples, r.total_match_len, round(r.score, 9))
            for r in ranked.collect()
        }
        for url, ts, html, _, lang in synth_page_rows(N_DOCS):
            text, ctype, err = extract_one(html)
            if err:
                continue
            for prog in fixture_programs:
                res = run_document(text, prog, doc_vars=doc_vars_for_url(url))
                if res.error is None:
                    assert got[(url, prog.name)] == (
                        res.no_matches, res.no_triples,
                        res.total_match_len, round(res.score, 9),
                    )

    def test_best_selection_matches_oracle_sort(self, ranked, fixture_programs):
        # replicate runner.py:402-407: stable sort desc by the stat triple
        rows = ranked.collect()
        by_url = {}
        for r in rows:
            by_url.setdefault(r.url, []).append(r)
        for url, cand in by_url.items():
            ok = [c for c in cand if c.error is None]
            ordered = sorted(
                ok, key=lambda c: (c.no_triples, c.no_matches, c.total_match_len),
                reverse=True,
            )  # python sort is stable; cand is in workflow_idx order
            ok_sorted = sorted(ok, key=lambda c: c.workflow_idx)
            ordered = sorted(
                ok_sorted,
                key=lambda c: (-c.no_triples, -c.no_matches, -c.total_match_len),
            )
            expected = ordered[0].workflow
            got = [c.workflow for c in cand if c.is_best]
            assert got == [expected], url


class TestDistributedEquivalence:
    """Identical output across partitionings (SURVEY.md §5.3)."""

    @staticmethod
    def _run_sorted_nt(spark, programs, n_parts):
        pages = synth_pages_df(spark, 80, slices=3).repartition(n_parts)
        ranked = select_best_workflow(run_workflows(extract_text(pages), programs))
        tri = explode_triples(ranked, winners_only=True)
        rows = [
            (r.subj, r.pred, r.obj_kind, r.obj_lexical, r.obj_lang, r.obj_datatype)
            for r in tri.collect()
        ]
        return triples_to_nt_lines(rows)

    def test_partitioning_invariance(self, spark, fixture_programs):
        a = self._run_sorted_nt(spark, fixture_programs, 1)
        b = self._run_sorted_nt(spark, fixture_programs, 7)
        c = self._run_sorted_nt(spark, fixture_programs, 32)
        assert a == b == c
        assert len(a) > 0

    @pytest.mark.parametrize("entry", sorted(ENTRY_POINTS))
    def test_all_malformed_partition_writes(
        self, spark, fixture_programs, tmp_path, entry
    ):
        """Regression: a partition containing ONLY malformed documents
        made the UDF yield an empty pandas frame whose default column
        dtypes broke the Arrow array<struct> conversion at WRITE time
        (NumPyConverter error, surfaced first under spark-submit)."""
        from cmc_knowledge_graph_text2ttl_spark.sources.pages import PAGES_SCHEMA

        rows = [
            ("https://h/ok", None, b"<html><body><p>Material: Aspirin</p></body></html>", None, "en"),
            ("https://h/bad", None, b"\xff\xfe<html><oops", None, "en"),
        ]
        # 4 partitions, 2 rows → at least one partition holds only the
        # malformed doc (and some are fully empty)
        pages = spark.createDataFrame(rows, PAGES_SCHEMA).repartition(4)
        ranked = ENTRY_POINTS[entry](pages, fixture_programs, select_best=True)
        out = str(tmp_path / "res")
        ranked.write.mode("overwrite").parquet(out)  # must not raise
        back = spark.read.parquet(out)
        assert back.select("url").distinct().count() == 1  # only the good doc

    def test_extraction_byte_identity(self, spark):
        pages = synth_pages_df(spark, 60, slices=2)
        got = {
            r.url: hashlib.sha256(r.text.encode()).hexdigest()
            for r in extract_text(pages).filter("extract_error is null").collect()
        }
        for url, ts, html, _, lang in synth_page_rows(60):
            text, ctype, err = extract_one(html)
            if err is None:
                assert got[url] == hashlib.sha256(text.encode()).hexdigest()


class TestEntryPointsAgree:
    """run_workflows(extract_text(...)) and extract_and_run_workflows share
    one kernel and one text rule: on every text-rule edge row they must
    produce identical rows, side outputs and winner flags included."""

    MAT = b"<html><body><p>Material: %s</p></body></html>"
    ROWS = [
        ("https://h/good", None, MAT % b"Aspirin", None, "en"),
        ("https://h/bad", None, b"\xff\xfe<html><oops", None, "en"),
        ("https://h/null", None, None, None, "en"),
        ("https://h/pre", None, MAT % b"Ethanol", (MAT % b"Glucose").decode(), "en"),
        ("https://h/empty", None, MAT % b"Caffeine", "", "en"),
    ]
    # exercises the texts / saved_as / log side channels
    SIDE_WF = (
        "- echo: 'doc=@{doc}'\n"
        "- dump: _\n  file: snap\n"
        "- save-as: out-@{doc}.ttl\n"
    )

    def test_fused_equals_staged(self, spark, fixture_programs):
        from cmc_knowledge_graph_text2ttl_spark.sources.pages import PAGES_SCHEMA

        programs = fixture_programs + [
            wf(self.SIDE_WF, name="wf_side", index=len(fixture_programs))
        ]
        pages = spark.createDataFrame(self.ROWS, PAGES_SCHEMA).repartition(3)
        got = {}
        for name, entry in ENTRY_POINTS.items():
            res = entry(pages, programs, select_best=True, collect_log=True)
            got[name] = [
                r.asDict(recursive=True)
                for r in res.orderBy("url", "workflow_idx").collect()
            ]
        assert got["staged"] == got["fused"]
        rows = got["fused"]
        assert {r["url"] for r in rows} == {
            "https://h/good", "https://h/pre", "https://h/empty",
        }
        assert len(rows) == 3 * len(programs)
        side = [r for r in rows if r["workflow"] == "wf_side"]
        assert all(r["texts"] and r["saved_as"] and r["log"] for r in side)
        pre_objs = {
            t["obj_lexical"]
            for r in rows
            if r["url"] == "https://h/pre"
            for t in r["triples"]
        }
        assert "http://example.org/kg/material_Glucose" in pre_objs
        assert "http://example.org/kg/material_Ethanol" not in pre_objs

    def test_staged_rule_without_html(self, spark, fixture_programs):
        """Without an html column an empty text still runs, and a row whose
        extraction failed is skipped even when it carries text."""
        ext = spark.createDataFrame(
            [
                ("https://h/empty", "", None),
                ("https://h/failed", (self.MAT % b"Aspirin").decode(), "ValueError: x"),
                ("https://h/ok", (self.MAT % b"Aspirin").decode(), None),
            ],
            "url string, text string, extract_error string",
        )
        res = run_workflows(ext, fixture_programs, select_best=True).collect()
        per_url = {}
        for r in res:
            per_url[r.url] = per_url.get(r.url, 0) + 1
        assert per_url == {
            "https://h/empty": len(fixture_programs),
            "https://h/ok": len(fixture_programs),
        }


class TestSelectOp:
    ONTOLOGY = [
        ("http://x/Aspirin", "http://x/class", "iri", "http://x/Drug", None),
        ("http://x/Aspirin", "http://x/label", "literal", "Aspirin", "en"),
        ("http://x/Ethanol", "http://x/class", "iri", "http://x/Solvent", None),
    ]

    WF = """
- prefix: ex
  iri: http://x/
- match-every: 'Material: ([^<]+)<'
  as: mat
  do:
    - select: cls
      from: ontology
      where: "SELECT ?cls WHERE { <http://x/@{mat.1:iri}> <http://x/class> ?cls . }"
      do:
        - subject: ex:@{mat.1:iri}
          predicate: ex:classifiedAs
          object:
            iri: "@{cls}"
"""

    def test_select_against_broadcast_graph(self, spark):
        from cmc_knowledge_graph_text2ttl_spark.operators.run import run_workflows as rw

        pages = synth_pages_df(spark, 100)
        ext = extract_text(pages)
        res = rw(ext, [wf(self.WF, "wf_sel")], graphs={"ontology": self.ONTOLOGY})
        tri = explode_triples(res)
        rows = tri.filter(F.col("pred") == "http://x/classifiedAs").collect()
        assert len(rows) > 0
        objs = {r.obj_lexical for r in rows}
        assert objs <= {"http://x/Drug", "http://x/Solvent"}

    def test_minigraph_join_semantics(self):
        g = MiniGraph(self.ONTOLOGY)
        out = g.query(
            "SELECT ?s ?l WHERE { ?s <http://x/class> <http://x/Drug> . "
            "?s <http://x/label> ?l . }"
        )
        assert len(out) == 1
        assert str(out[0]["s"]) == "http://x/Aspirin"
        assert str(out[0]["l"]) == "Aspirin"


class TestInUdfBestSelection:
    def test_in_udf_is_best_equals_window(self, spark, fixture_programs):
        pages = synth_pages_df(spark, 100)
        ext = extract_text(pages)
        in_udf = run_workflows(ext, fixture_programs, select_best=True)
        got = {(r.url, r.workflow) for r in in_udf.filter("is_best").collect()}
        windowed = select_best_workflow(
            run_workflows(ext, fixture_programs)
        )
        expect = {(r.url, r.workflow) for r in windowed.filter("is_best").collect()}
        assert got == expect


class TestSkewCorpus:
    """Skew fixture (1% of hosts own 50% of rows) — correctness must be
    partition-shape-independent and AQE must keep the job healthy."""

    def test_skewed_equals_oracle_count(self, spark, fixture_programs):
        skewed = synth_pages_df(spark, 400, n_hosts=100, skew=True)
        ranked = run_workflows(
            extract_text(skewed), fixture_programs, select_best=True
        )
        tri = explode_triples(ranked, winners_only=True)
        n = tri.count()
        # oracle over the same deterministic rows
        from cmc_knowledge_graph_text2ttl_spark.sources import synth_page_rows

        expect = 0
        for url, ts, html, _, lang in synth_page_rows(400, n_hosts=100, skew=True):
            text, ctype, err = extract_one(html)
            if err:
                continue
            best = None
            for prog in fixture_programs:
                res = run_document(text, prog, doc_vars=doc_vars_for_url(url))
                if res.error is None:
                    key = (res.no_triples, res.no_matches, res.total_match_len)
                    if best is None or key > best[0]:
                        best = (key, res)
            if best:
                expect += len(best[1].triples)
        assert n == expect

    def test_hot_host_distribution(self, spark):
        skewed = synth_pages_df(spark, 2000, n_hosts=100, skew=True)
        per_host = (
            skewed.groupBy(F.regexp_extract("url", r"https?://([^/]+)/", 1))
            .count()
            .orderBy(F.desc("count"))
            .collect()
        )
        # hottest host owns roughly half the corpus (the fixture contract)
        assert per_host[0]["count"] > 2000 * 0.4


class TestPretextizedCorpus:
    def test_prefilled_text_skips_extraction(self, spark, fixture_programs):
        """FIXTURES.md pages_pretextized variant: rows with text already
        populated bypass html extraction byte-for-byte."""
        from pyspark.sql import functions as F

        pages = synth_pages_df(spark, 40)
        pre = pages.withColumn(
            "text", F.lit("<html><body><p>Material: Glucose</p></body></html>")
        ).withColumn("html", F.lit(None).cast("binary"))
        ext = extract_text(pre)
        rows = ext.collect()
        assert all(r.content_type == "pretextized" for r in rows)
        assert all(r.extract_error is None for r in rows)
        res = run_workflows(ext, fixture_programs, select_best=True)
        tri = explode_triples(res, winners_only=True)
        mats = {r.obj_lexical for r in tri.filter("pred like '%hasMaterial'").collect()}
        assert mats == {"http://example.org/kg/material_Glucose"}
