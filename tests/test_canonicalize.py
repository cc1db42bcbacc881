"""Connected components + sameAs canonicalization tests: known component
structures (chain, star with a hot hub, singletons) per FIXTURES.md §4,
plus salting-path equivalence.
"""

import pytest
from pyspark.sql import functions as F

from cmc_knowledge_graph_text2ttl_spark.operators.canonicalize import (
    OWL_SAMEAS,
    canonicalize_triples,
    connected_components,
    sameas_edges,
)


def comp_map(df):
    return {r.node: r.component for r in df.collect()}


@pytest.fixture(scope="module")
def edge_df(spark):
    # chain a1-a2-a3-a4, star h<-s1..s50 (hub), pair p1-p2, reversed edge
    edges = [(f"a{i}", f"a{i+1}") for i in range(1, 4)]
    edges += [(f"s{i}", "hub") for i in range(1, 51)]
    edges += [("p2", "p1")]
    return spark.createDataFrame(edges, ["src", "dst"])


class TestConnectedComponents:
    def test_chain_star_pair(self, spark, edge_df):
        m = comp_map(connected_components(edge_df))
        assert {m[f"a{i}"] for i in range(1, 5)} == {"a1"}
        # hub cluster: min of {hub, s1..s50} = "hub"
        assert m["hub"] == "hub" and m["s1"] == "hub" and m["s50"] == "hub"
        assert m["p1"] == "p1" and m["p2"] == "p1"

    def test_long_chain_converges(self, spark):
        # pointer jumping must handle a 200-node chain in ~log rounds
        n = 200
        edges = spark.createDataFrame(
            [(f"n{i:04d}", f"n{i+1:04d}") for i in range(n)], ["src", "dst"]
        )
        m = comp_map(connected_components(edges, max_iter=15))
        assert set(m.values()) == {"n0000"}
        assert len(m) == n + 1

    def test_salted_equals_unsalted(self, spark, edge_df):
        a = comp_map(connected_components(edge_df))
        b = comp_map(connected_components(edge_df, salt_hubs=8))
        assert a == b

    def test_self_loops_and_dupes_ignored(self, spark):
        edges = spark.createDataFrame(
            [("x", "x"), ("x", "y"), ("y", "x"), ("x", "y")], ["src", "dst"]
        )
        m = comp_map(connected_components(edges))
        assert m == {"x": "x", "y": "x"}


class TestCanonicalize:
    def _triples(self, spark):
        rows = [
            # aliases: B sameAs A, C sameAs B  → canonical is A (min)
            ("http://x/B", OWL_SAMEAS, "iri", "http://x/A", None, None, "u1", "wf"),
            ("http://x/C", OWL_SAMEAS, "iri", "http://x/B", None, None, "u2", "wf"),
            # facts on all three aliases
            ("http://x/A", "http://x/p", "literal", "1", None, None, "u1", "wf"),
            ("http://x/B", "http://x/p", "literal", "1", None, None, "u2", "wf"),
            ("http://x/C", "http://x/q", "iri", "http://x/B", None, None, "u3", "wf"),
            # unrelated
            ("http://x/Z", "http://x/p", "literal", "9", None, None, "u4", "wf"),
        ]
        return spark.createDataFrame(
            rows,
            "subj string, pred string, obj_kind string, obj_lexical string,"
            "obj_lang string, obj_datatype string, url string, workflow string",
        )

    def test_rewrite_and_dedup(self, spark):
        tri = self._triples(spark)
        out = canonicalize_triples(tri)
        rows = {(r.subj, r.pred, r.obj_kind, r.obj_lexical, r.url) for r in out.collect()}
        # sameAs triples dropped; B/C rewritten to A everywhere
        assert ("http://x/A", "http://x/p", "literal", "1", "u1") in rows
        assert ("http://x/A", "http://x/p", "literal", "1", "u2") in rows
        assert ("http://x/A", "http://x/q", "iri", "http://x/A", "u3") in rows
        assert ("http://x/Z", "http://x/p", "literal", "9", "u4") in rows
        assert all(s != "http://x/B" and s != "http://x/C" for s, *_ in rows)
        assert not any(p == OWL_SAMEAS for _, p, *_ in rows)

    def test_literal_objects_untouched(self, spark):
        # a literal whose lexical form collides with an alias IRI must NOT
        # be rewritten (obj_kind guard)
        rows = [
            ("http://x/B", OWL_SAMEAS, "iri", "http://x/A", None, None, "u", "wf"),
            ("http://x/D", "http://x/note", "literal", "http://x/B", None, None, "u", "wf"),
        ]
        tri = spark.createDataFrame(
            rows,
            "subj string, pred string, obj_kind string, obj_lexical string,"
            "obj_lang string, obj_datatype string, url string, workflow string",
        )
        out = canonicalize_triples(tri).collect()
        assert len(out) == 1
        assert out[0].obj_lexical == "http://x/B"  # literal preserved

    def test_small_graph_rewrite_plans_broadcast_joins(self, spark):
        # the driver union-find label map is a local relation with an exact
        # size, so the left-join rewrites broadcast it instead of shuffling
        # the triples into sort-merge joins
        out = canonicalize_triples(self._triples(spark))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_no_sameas_edges_leaves_triples(self, spark):
        tri = self._triples(spark).filter(F.col("pred") != OWL_SAMEAS)
        assert connected_components(sameas_edges(tri)).count() == 0
        assert sorted(canonicalize_triples(tri).collect()) == sorted(tri.collect())

    def test_sameas_edges_extraction(self, spark):
        tri = self._triples(spark)
        e = sameas_edges(tri).collect()
        assert {(r.src, r.dst) for r in e} == {
            ("http://x/B", "http://x/A"),
            ("http://x/C", "http://x/B"),
        }


class TestAdaptiveStrategy:
    def test_driver_and_distributed_paths_agree(self, spark, edge_df):
        small = comp_map(connected_components(edge_df))  # driver union-find
        dist = comp_map(connected_components(edge_df, small_graph_threshold=0))
        assert small == dist

    def test_threshold_forces_each_branch_without_leaking_a_persist(self, spark, edge_df):
        """edge_df has 54 distinct edges: a threshold of 3 takes the
        distributed branch, 54 (at most, not below) takes union-find. The
        size probe persists nothing; the distributed loop's only remaining
        storage is its local checkpoints, the label map itself."""
        jsc = spark.sparkContext._jsc

        def persisted():
            rdds = [r.rdd() for r in jsc.getPersistentRDDs().values()]
            return len(rdds), sum(not r.isCheckpointed() for r in rdds)

        total, plain = persisted()
        dist_df = connected_components(edge_df, small_graph_threshold=3)
        assert "LocalTableScan" not in dist_df._jdf.queryExecution().executedPlan().toString()
        assert persisted()[1] == plain
        total, plain = persisted()
        local = connected_components(edge_df, small_graph_threshold=54)
        assert "LocalTableScan" in local._jdf.queryExecution().executedPlan().toString()
        assert persisted() == (total, plain)
        dist = comp_map(dist_df)
        assert comp_map(local) == dist
        assert dist["s1"] == "hub" and dist["a4"] == "a1" and dist["p2"] == "p1"

    def test_long_chain_both_paths(self, spark):
        edges = spark.createDataFrame(
            [(f"n{i:04d}", f"n{i+1:04d}") for i in range(150)], ["src", "dst"]
        )
        a = comp_map(connected_components(edges))
        b = comp_map(connected_components(edges, small_graph_threshold=0))
        assert a == b and set(a.values()) == {"n0000"}
