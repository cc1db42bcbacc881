"""Entity-linking operator tests: broadcast dictionary join, regex
cascade, hot-hub sameAs canonicalization, per-doc Turtle export,
ontology TTL-lite parsing.
"""

import os

import pytest
from pyspark.sql import functions as F

from cmc_knowledge_graph_text2ttl_spark.operators import linking as L
from cmc_knowledge_graph_text2ttl_spark.operators.canonicalize import (
    connected_components,
)
from cmc_knowledge_graph_text2ttl_spark.sinks import export_per_doc_turtle
from cmc_knowledge_graph_text2ttl_spark.workflow.sparql import MiniGraph, parse_ttl

FIX = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "fixtures")


def _read_tsv(path):
    """(key, iri) pairs of a FIXTURES.md §4 TSV; '#' lines are comments."""
    with open(path, encoding="utf8") as fh:
        lines = fh.read().splitlines()
    return [tuple(l.split("\t", 1)) for l in lines if l and not l.startswith("#")]


@pytest.fixture(scope="module")
def dictionary():
    return _read_tsv(f"{FIX}/linking/dictionary.tsv")


@pytest.fixture(scope="module")
def patterns():
    return _read_tsv(f"{FIX}/linking/patterns.tsv")


class TestDictionaryLinking:
    def test_exact_and_case_variants(self, spark, dictionary):
        mentions = spark.createDataFrame(
            [("d1", "Aspirin"), ("d2", "ASPIRIN"), ("d3", "acetylsalicylic acid"),
             ("d4", "NaCl"), ("d5", "unknown compound")],
            ["doc", "mention"],
        )
        out = {r.doc: r.canonical_iri for r in L.link_exact(mentions, dictionary).collect()}
        assert out["d1"] == "http://example.org/kg/material_Aspirin"
        assert out["d2"] == "http://example.org/kg/material_Aspirin"
        assert out["d3"] == "http://example.org/kg/material_Aspirin"
        assert out["d4"] == "http://example.org/kg/material_SodiumChloride"
        assert out["d5"] is None

    def test_broadcast_join_in_plan(self, spark, dictionary):
        mentions = spark.createDataFrame([("d1", "Aspirin")], ["doc", "mention"])
        plan = L.link_exact(mentions, dictionary)._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

    def test_regex_cascade_order_and_groups(self, spark, dictionary, patterns):
        mentions = spark.createDataFrame(
            [("d1", "LOT-12345"), ("d2", "Aspirin (technical grade)"),
             ("d3", "CAS 50-78-2"), ("d4", "nothing")],
            ["doc", "mention"],
        )
        out = {
            r.doc: (r.canonical_iri, r.linked)
            for r in L.link_mentions(mentions, dictionary, patterns).collect()
        }
        assert out["d1"] == ("http://example.org/kg/lot_12345", True)
        assert out["d2"] == ("http://example.org/kg/material_Aspirin", True)
        assert out["d3"] == ("http://example.org/kg/cas_number", True)
        assert out["d4"] == (None, False)

    def test_exact_wins_over_pattern(self, spark, dictionary, patterns):
        # 'Aspirin' hits the dictionary; the (technical grade) pattern
        # must not fire for it (first-match-wins order: exact > regex)
        mentions = spark.createDataFrame([("d", "Aspirin")], ["doc", "mention"])
        row = L.link_mentions(mentions, dictionary, patterns).first()
        assert row.canonical_iri == "http://example.org/kg/material_Aspirin"


class TestSameAsFixture:
    def test_hot_hub_components_with_salting(self, spark):
        edges = (
            spark.read.option("header", "true")
            .csv(f"{FIX}/linking/sameas_edges.csv")
            .select(F.col("src_iri").alias("src"), F.col("dst_iri").alias("dst"))
        )
        comp = connected_components(edges, small_graph_threshold=0)
        m = {r.node: r.component for r in comp.collect()}
        # chain c0..c5 collapses to its lexicographic min
        assert {m[f"http://x/chain_{i}"] for i in range(6)} == {"http://x/chain_0"}
        # the 1000-edge hub star collapses to the min alias
        assert m["http://x/hub"] == "http://x/alias_0000"
        assert m["http://x/alias_0999"] == "http://x/alias_0000"
        # pairs stay separate
        assert m["http://x/pb_3"] == "http://x/pa_3"
        assert len({m[f"http://x/pa_{i}"] for i in range(10)}) == 10


class TestOntologyFixture:
    def test_parse_and_query(self):
        with open(f"{FIX}/ontology.ttl") as fh:
            rows = parse_ttl(fh.read())
        g = MiniGraph(rows)
        assert len(g) >= 30
        out = g.query(
            "SELECT ?m WHERE { ?m <http://example.org/prop/class> "
            "<http://example.org/kg/class_Solvent> . }"
        )
        names = {str(r["m"]) for r in out}
        assert names == {
            "http://example.org/kg/material_Ethanol",
            "http://example.org/kg/material_Acetone",
        }
        # two-pattern join: material -> class -> kind
        out2 = g.query(
            "SELECT ?m ?c WHERE { ?m <http://example.org/prop/class> ?c . "
            "?c <http://example.org/prop/kind> <http://example.org/kg/MaterialClass> . }"
        )
        assert len(out2) == 9


class TestPerDocTurtleExport:
    def test_one_file_per_doc(self, spark, tmp_path):
        rows = [
            ("http://x/s1", "http://x/p", "literal", "v1", None, None, "doc://1"),
            ("http://x/s1", "http://x/q", "iri", "http://x/o", None, None, "doc://1"),
            ("http://x/s2", "http://x/p", "literal", "zwei", "de", None, "doc://2"),
        ]
        tri = spark.createDataFrame(
            rows,
            "subj string, pred string, obj_kind string, obj_lexical string,"
            "obj_lang string, obj_datatype string, url string",
        )
        n = export_per_doc_turtle(tri, str(tmp_path))
        assert n == 2
        files = sorted(os.listdir(tmp_path))
        assert files == ["doc___1.ttl", "doc___2.ttl"]
        assert (tmp_path / "doc___1.ttl").read_text() == (
            '<http://x/s1> <http://x/p> "v1" .\n<http://x/s1> <http://x/q> <http://x/o> .\n'
        )
        assert (tmp_path / "doc___2.ttl").read_text() == '<http://x/s2> <http://x/p> "zwei"@de .\n'

    @pytest.mark.parametrize(
        "a, b",
        [("http://ex.org/café", "http://ex.org/cafè"), ("http://ex.org/a b", "http://ex.org/a-b")],
        ids=["non-ascii", "whitespace"],
    )
    def test_colliding_file_names_raise(self, spark, tmp_path, a, b):
        """Both URLs clean to one file name: refuse instead of letting one
        document's file silently overwrite the other's."""
        tri = spark.createDataFrame(
            [("http://x/s", "http://x/p", "literal", doc, None, None, doc) for doc in (a, b)],
            "subj string, pred string, obj_kind string, obj_lexical string,"
            "obj_lang string, obj_datatype string, url string",
        )
        with pytest.raises(ValueError, match="both map to the file name") as err:
            export_per_doc_turtle(tri, str(tmp_path / "out"))
        assert a in str(err.value) and b in str(err.value)
        assert not (tmp_path / "out").exists()

    def test_corpus_above_max_docs_raises_before_writing(self, spark, tmp_path):
        """The driver-memory guard refuses the corpus before it creates the
        output directory or writes any file."""
        tri = spark.createDataFrame(
            [("http://x/s", "http://x/p", "literal", "v", None, None, f"doc://{i}") for i in (1, 2)],
            "subj string, pred string, obj_kind string, obj_lexical string,"
            "obj_lang string, obj_datatype string, url string",
        )
        with pytest.raises(ValueError, match="> 1 documents"):
            export_per_doc_turtle(tri, str(tmp_path / "out"), max_docs=1)
        assert not (tmp_path / "out").exists()
        assert not list(tmp_path.rglob("*.ttl"))


class TestEmbeddingLinking:
    """Embedding-tier entity linking (operators/linking.embedding_link)."""

    def test_links_to_vocabulary_overlap(self, spark):
        from cmc_knowledge_graph_text2ttl_spark.operators import linking as L

        docs = spark.createDataFrame(
            [(1, "solar panel energy grid inverter battery storage"),
             (2, "football match referee goal penalty stadium crowd"),
             (3, "panel inverter battery solar energy")],
            ["doc_id", "text"])
        ents = spark.createDataFrame(
            [(10, "solar panel inverter energy"),
             (20, "football referee stadium goal")],
            ["entity_id", "name"])
        got = {r.id: (r.entity_id, r.cosine)
               for r in L.embedding_link(docs, ents).collect()}
        assert got[1][0] == 10 and got[3][0] == 10
        assert got[2][0] == 20
        assert all(c > 0.3 for _, c in got.values())

    def test_tie_breaks_to_smallest_entity_id(self, spark):
        from cmc_knowledge_graph_text2ttl_spark.operators import linking as L

        docs = spark.createDataFrame([(1, "alpha beta")], ["doc_id", "text"])
        # identical entity names -> identical embeddings -> exact tie
        ents = spark.createDataFrame(
            [(7, "alpha beta"), (3, "alpha beta")], ["entity_id", "name"])
        got = L.embedding_link(docs, ents).collect()
        assert len(got) == 1 and got[0].entity_id == 3

    def test_threshold_filters(self, spark):
        from cmc_knowledge_graph_text2ttl_spark.operators import linking as L

        docs = spark.createDataFrame(
            [(1, "completely unrelated words here today")],
            ["doc_id", "text"])
        ents = spark.createDataFrame(
            [(10, "quantum flux capacitor dynamics")], ["entity_id", "name"])
        all_rows = L.embedding_link(docs, ents).collect()
        assert len(all_rows) == 1  # top-1 always emitted without threshold
        kept = L.embedding_link(docs, ents, threshold=0.99).collect()
        assert kept == []

    def test_broadcast_and_single_row_per_doc_shuffle(self, spark):
        from cmc_knowledge_graph_text2ttl_spark.operators import linking as L

        docs = spark.createDataFrame(
            [(i, f"word{i} word{i+1} word{i+2}") for i in range(20)],
            ["doc_id", "text"])
        ents = spark.createDataFrame(
            [(i, f"word{i} thing") for i in range(5)],
            ["entity_id", "name"])
        df = L.embedding_link(docs, ents)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
        # top-1 is an aggregate (map-side combinable), not a window
        assert "Window" not in plan
        assert df.count() == 20


class TestAnchorEntities:
    DICT = [("Aspirin", "ex:aspirin"), ("Ibuprofen", "ex:ibu")]

    def _run(self, spark, rows, **kw):
        from cmc_knowledge_graph_text2ttl_spark.operators.linking import (
            link_anchor_entities,
        )

        df = spark.createDataFrame(rows, ["src", "dst", "anchor"])
        return {(r.dst, r.canonical_iri): r
                for r in link_anchor_entities(df, self.DICT, **kw).collect()}

    def test_aggregation_and_case_fold(self, spark):
        rows = [
            ("s1", "t1", "Aspirin"), ("s2", "t1", "aspirin"),
            ("s3", "t1", "ASPIRIN"), ("s4", "t1", "Ibuprofen"),
            ("s5", "t1", "not a drug"), ("s6", "t1", ""),
            ("s7", "t2", "aspirin"),
        ]
        got = self._run(spark, rows)
        a = got[("t1", "ex:aspirin")]
        # three case variants -> 3 links over 3 distinct anchors
        assert (a.n_links, a.n_anchors) == (3, 3)
        assert got[("t1", "ex:ibu")].n_links == 1
        assert ("t1", None) not in got          # unlinked anchors drop
        assert got[("t2", "ex:aspirin")].n_links == 1

    def test_top_anchor_majority_then_tiebreak(self, spark):
        rows = ([("s%d" % i, "t", "Aspirin") for i in range(3)]
                + [("x%d" % i, "t", "aspirin") for i in range(2)])
        got = self._run(spark, rows)
        assert got[("t", "ex:aspirin")].top_anchor == "Aspirin"  # 3 > 2
        rows2 = [("a", "t", "Aspirin"), ("b", "t", "aspirin")]
        got2 = self._run(spark, rows2)
        # tie at 1 each -> lexicographically largest surface wins
        assert got2[("t", "ex:aspirin")].top_anchor == "aspirin"

    def test_partition_invariance(self, spark):
        from cmc_knowledge_graph_text2ttl_spark.operators.linking import (
            link_anchor_entities,
        )

        rows = [(f"s{i}", f"t{i % 9}",
                 ["Aspirin", "aspirin", "Ibuprofen", "junk"][i % 4])
                for i in range(200)]
        df = spark.createDataFrame(rows, ["src", "dst", "anchor"])
        a = sorted(map(tuple, link_anchor_entities(df, self.DICT).collect()))
        b = sorted(map(tuple, link_anchor_entities(
            df.repartition(17), self.DICT).collect()))
        assert a == b
