"""Stage 4 — sameAs canonicalization via connected components.

The reference has no explicit canonicalization: identity comes from
deterministic IRI construction (the ``:iri`` template formatter) and
rdflib set-union (SURVEY.md §2.4 joins row d). At web scale, entity
linking emits ``owl:sameAs`` edges between alias IRIs, and every triple
must be rewritten onto one canonical id per alias cluster — a connected
components problem on an edge DataFrame (north_rule requirement).

Algorithm: iterative **min-label propagation with pointer jumping**
(each round combines neighbor-min propagation with comp(comp(u))
shortcutting, the DataFrame analog of the alternating large-star /
small-star contraction — converges in O(log d) rounds, driver-checked).
The canonical representative of a component is its lexicographically
smallest IRI: deterministic, partition-independent, explainable.

Skew handling: hub aliases (one canonical node with 10^5 edges) make the
propagation join skewed. AQE skew-join splitting is on by default
(session.py), and the neighbor-min ``groupBy(u).agg(min(v))`` aggregates
partially on the map side before its shuffle, so a hub's reducer gets one
row per map task, not one per edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .columns import local_frame

OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"


def _driver_union_find(pairs) -> list:
    """Union-find with union-by-min (driver-side small-graph fast path).

    Produces the identical (node, min-of-component) labeling as the
    distributed loop — equivalence is test-enforced.
    """
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for u, v in pairs:
        if u not in parent:
            parent[u] = u
        if v not in parent:
            parent[v] = v
        ru, rv = find(u), find(v)
        if ru != rv:
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return [(n, find(n)) for n in parent]


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    small_graph_threshold: int = 2_000_000,
) -> DataFrame:
    """edges(src,dst) → components(node, component).

    ``component`` is the minimum node id (string order) of the node's
    connected component. Every node appearing in any edge gets a row.

    Adaptive strategy: a sameAs graph is usually orders of magnitude
    smaller than the corpus — if the (deduped) edge list fits comfortably
    on the driver (at most ``small_graph_threshold`` edges), union-find
    locally and hand the label map back as an Arrow-built local relation
    (no iterative jobs at all). One bounded collect of threshold + 1 edges
    is both the size probe and the union-find input.
    Above the threshold, iterate distributed min-label propagation with
    pointer jumping; the loop is driver-controlled with an explicit
    convergence check (count of improved labels == 0).
    """
    e = (
        edges.select(F.col("src").cast("string").alias("u"), F.col("dst").cast("string").alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v")))
        .distinct()
    )
    if small_graph_threshold > 0:
        # collect (not toLocalIterator — that runs one job per
        # partition); memory is bounded by the threshold
        probe = e.limit(small_graph_threshold + 1).collect()
        if len(probe) <= small_graph_threshold:
            labels = _driver_union_find((r.u, r.v) for r in probe)
            return local_frame(edges.sparkSession, labels, "node string, component string")
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    sym = sym.repartition("u").persist()

    nbr_min = sym.groupBy("u").agg(F.min("v").alias("mn"))

    # localCheckpoint each round: materializes the labels AND truncates the
    # iterative lineage (otherwise every round re-plans the whole history —
    # the classic iterative-DataFrame trap).
    comp = nbr_min.select(
        F.col("u").alias("node"), F.least("u", "mn").alias("component")
    ).localCheckpoint(eager=True)

    changed = 0
    for _ in range(max_iter):
        # Neighbor propagation: min over neighbors' current components.
        nb = (
            sym.join(comp.withColumnRenamed("node", "v"), "v")
            .groupBy("u")
            .agg(F.min("component").alias("nb_min"))
            .withColumnRenamed("u", "node")
        )
        # Pointer jumping: component of my component.
        jump = comp.alias("a").join(
            comp.select(
                F.col("node").alias("jnode"), F.col("component").alias("jmp")
            ),
            F.col("a.component") == F.col("jnode"),
            "left",
        ).select("node", "component", "jmp")
        new_comp = (
            jump.join(nb, "node", "left")
            .select(
                "node",
                F.col("component").alias("old_component"),
                F.least(
                    "component",
                    F.coalesce("jmp", "component"),
                    F.coalesce("nb_min", "component"),
                ).alias("component"),
            )
        ).localCheckpoint(eager=True)
        changed = new_comp.filter(F.col("component") < F.col("old_component")).count()
        comp = new_comp.select("node", "component")
        if changed == 0:
            break
    sym.unpersist()
    if changed > 0:
        # Pointer jumping converges in O(log d) rounds, so hitting the cap
        # with labels still moving means something pathological; silently
        # returning partial labels would corrupt canonicalization downstream.
        raise RuntimeError(
            f"connected_components did not converge after {max_iter} "
            f"iterations ({changed} labels still improving); raise max_iter"
        )
    return comp


def sameas_edges(triples: DataFrame) -> DataFrame:
    """Extract the owl:sameAs edge list from a triples table."""
    return triples.filter(
        (F.col("pred") == OWL_SAMEAS) & (F.col("obj_kind") == "iri")
    ).select(F.col("subj").alias("src"), F.col("obj_lexical").alias("dst"))


def canonicalize_triples(
    triples: DataFrame,
    components: DataFrame = None,
) -> DataFrame:
    """Rewrite subj/obj IRIs onto their canonical component representative
    and drop the owl:sameAs triples themselves.

    Two left joins against the component map (subject side; object side
    only for IRI objects). No probe job decides the join strategy: a
    driver union-find map is a local relation of known size, so it is
    planned as a broadcast; a distributed map is localCheckpoint'd, so AQE
    converts the joins to broadcast from runtime stats when it is small.
    Output is de-duplicated: distinct aliases collapsing onto one
    canonical id produce identical triples by design.
    """
    comp = components if components is not None else connected_components(sameas_edges(triples))
    t = triples.filter(~((F.col("pred") == OWL_SAMEAS) & (F.col("obj_kind") == "iri")))
    subj_map = comp.select(
        F.col("node").alias("subj"), F.col("component").alias("subj_canon")
    )
    obj_map = comp.select(
        F.col("node").alias("obj_lexical"), F.col("component").alias("obj_canon")
    )
    out = t.join(subj_map, "subj", "left")
    # Object-side rewrite applies to IRI objects only: split literals out
    # BEFORE the join so they never shuffle on obj_lexical.
    # (a shuffled join would pile skewed literals like "1"/"true" on one reducer)
    iri_rows = out.filter(F.col("obj_kind") == "iri").join(
        obj_map, ["obj_lexical"], "left"
    )
    lit_rows = out.filter(F.col("obj_kind") != "iri").withColumn(
        "obj_canon", F.lit(None).cast("string")
    )
    extra = [c for c in triples.columns if c in ("url", "workflow")]
    cols = (
        [
            F.coalesce("subj_canon", "subj").alias("subj"),
            F.col("pred"),
            F.col("obj_kind"),
            F.coalesce("obj_canon", "obj_lexical").alias("obj_lexical"),
            F.col("obj_lang"),
            F.col("obj_datatype"),
        ]
        + [F.col(c) for c in extra]
    )
    rewritten = iri_rows.select(*cols).unionByName(lit_rows.select(*cols))
    return rewritten.dropDuplicates(
        ["subj", "pred", "obj_kind", "obj_lexical", "obj_lang", "obj_datatype"]
        + extra
    )
