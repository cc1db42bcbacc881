"""Mini-SPARQL evaluator coverage (workflow/sparql.py).

The reference evaluates ``where:`` with rdflib's full SPARQL engine
(text_to_turtle_processor.py:2107-2202); the engine supports the subset
workflow-style lookups actually use: recursive groups (OPTIONAL, UNION,
MINUS, GRAPH, VALUES, subqueries), property paths, one expression
language for FILTER / HAVING / BIND, aggregates, solution modifiers in
SPARQL order at both query levels, and the TTL-lite reader that shares
the query term lexer.
"""

import pytest

from cmc_knowledge_graph_text2ttl_spark.core.errors import ProcessorException
from cmc_knowledge_graph_text2ttl_spark.core.terms import XSD, LitNode
from cmc_knowledge_graph_text2ttl_spark.workflow.sparql import (
    MiniGraph,
    make_query_fn,
    parse_ttl,
)

P = "http://x/p"
NAME = "http://x/name"
AGE = "http://x/age"
NICK = "http://x/nick"

GRAPH = MiniGraph(
    [
        ("http://x/alice", NAME, "literal", "Alice", None),
        ("http://x/alice", AGE, "literal", "34", None),
        ("http://x/alice", NICK, "literal", "Al", None),
        ("http://x/bob", NAME, "literal", "Bob", None),
        ("http://x/bob", AGE, "literal", "7", None),
        ("http://x/carol", NAME, "literal", "carol", None),
        ("http://x/carol", AGE, "literal", "19", None),
        ("http://x/carol", P, "iri", "http://x/alice", None),
    ]
)


def names(rows):
    return sorted(str(r["n"]) for r in rows)


class TestFilter:
    def test_eq_literal(self):
        out = GRAPH.query(
            'SELECT ?s WHERE { ?s <http://x/name> ?n . FILTER (?n = "Bob") }'
        )
        assert [str(r["s"]) for r in out] == ["http://x/bob"]

    def test_neq(self):
        out = GRAPH.query(
            'SELECT ?n WHERE { ?s <http://x/name> ?n . FILTER (?n != "Bob") }'
        )
        assert names(out) == ["Alice", "carol"]

    def test_numeric_comparison_not_lexicographic(self):
        # "7" < "19" numerically but not lexically — must compare as numbers
        out = GRAPH.query(
            "SELECT ?n WHERE { ?s <http://x/age> ?a . ?s <http://x/name> ?n . "
            "FILTER (?a < 20) }"
        )
        assert names(out) == ["Bob", "carol"]

    def test_regex_and_case_flag(self):
        out = GRAPH.query(
            'SELECT ?n WHERE { ?s <http://x/name> ?n . FILTER (regex(?n, "^ca")) }'
        )
        assert names(out) == ["carol"]
        out = GRAPH.query(
            'SELECT ?n WHERE { ?s <http://x/name> ?n . FILTER (regex(?n, "^AL", "i")) }'
        )
        assert names(out) == ["Alice"]

    def test_boolean_composition(self):
        out = GRAPH.query(
            "SELECT ?n WHERE { ?s <http://x/age> ?a . ?s <http://x/name> ?n . "
            'FILTER (?a >= 19 && !regex(?n, "^A")) }'
        )
        assert names(out) == ["carol"]
        out = GRAPH.query(
            "SELECT ?n WHERE { ?s <http://x/age> ?a . ?s <http://x/name> ?n . "
            'FILTER ((?a > 30) || (?n = "Bob")) }'
        )
        assert names(out) == ["Alice", "Bob"]

    def test_iri_comparison(self):
        out = GRAPH.query(
            "SELECT ?s WHERE { ?s <http://x/p> ?o . FILTER (?o = <http://x/alice>) }"
        )
        assert [str(r["s"]) for r in out] == ["http://x/carol"]

    def test_unbound_var_in_filter_drops_binding(self):
        out = GRAPH.query(
            "SELECT ?n WHERE { ?s <http://x/name> ?n . "
            "OPTIONAL { ?s <http://x/nick> ?k } FILTER (?k = \"Al\") }"
        )
        # only alice has a nick; bob/carol have ?k unbound → filter errors → dropped
        assert names(out) == ["Alice"]

    def test_bad_filter_raises(self):
        with pytest.raises(ProcessorException):
            GRAPH.query("SELECT ?s WHERE { ?s <http://x/name> ?n . FILTER (?n ~ 3) }")

    def test_string_functions_in_filter(self):
        out = GRAPH.query(
            "SELECT ?n WHERE { ?s <http://x/age> ?a . ?s <http://x/name> ?n . "
            "FILTER (STRLEN(?a) > 1) }"
        )
        assert names(out) == ["Alice", "carol"]
        out = GRAPH.query(
            "SELECT ?n WHERE { ?s <http://x/name> ?n . "
            'FILTER (STR(?s) = "http://x/bob") }'
        )
        assert names(out) == ["Bob"]

    def test_non_boolean_filter_root_raises(self):
        with pytest.raises(ProcessorException, match="boolean"):
            GRAPH.query(
                "SELECT ?n WHERE { ?s <http://x/name> ?n . FILTER (STRLEN(?n)) }"
            )

    def test_regex_pattern_unescapes_like_any_literal(self):
        # "a\\.b" is the pattern a\.b: a literal dot, so "axb" is out
        g = MiniGraph(
            [
                ("http://x/s", P, "literal", "a.b", None),
                ("http://x/t", P, "literal", "axb", None),
            ]
        )
        out = g.query(
            'SELECT ?s WHERE { ?s <http://x/p> ?o FILTER (regex(?o, "a\\\\.b")) }'
        )
        assert [str(r["s"]) for r in out] == ["http://x/s"]

    def test_filter_inside_optional_scopes_to_the_optional(self):
        # SPARQL: the filter decides whether the optional EXTENSION
        # survives; the outer binding always does.
        out = GRAPH.query(
            "SELECT ?n ?k WHERE { ?s <http://x/name> ?n . "
            'OPTIONAL { ?s <http://x/nick> ?k FILTER (?k != "Al") } }'
        )
        got = {str(r["n"]): (None if r["k"] is None else str(r["k"])) for r in out}
        # alice HAS a nick, but it fails the inner filter → k unbound
        assert got == {"Alice": None, "Bob": None, "carol": None}
        out2 = GRAPH.query(
            "SELECT ?n ?k WHERE { ?s <http://x/name> ?n . "
            'OPTIONAL { ?s <http://x/nick> ?k FILTER (?k = "Al") } }'
        )
        got2 = {str(r["n"]): (None if r["k"] is None else str(r["k"])) for r in out2}
        assert got2 == {"Alice": "Al", "Bob": None, "carol": None}


class TestOptional:
    def test_left_join_keeps_unmatched(self):
        out = GRAPH.query(
            "SELECT ?n ?k WHERE { ?s <http://x/name> ?n . "
            "OPTIONAL { ?s <http://x/nick> ?k } }"
        )
        got = {str(r["n"]): (None if r["k"] is None else str(r["k"])) for r in out}
        assert got == {"Alice": "Al", "Bob": None, "carol": None}

    def test_optional_joins_on_shared_var(self):
        # the optional pattern must bind through ?s, not cross-join
        out = GRAPH.query(
            "SELECT ?n ?k WHERE { ?s <http://x/name> ?n . "
            'OPTIONAL { ?s <http://x/nick> ?k } FILTER (?n = "Bob") }'
        )
        assert len(out) == 1 and out[0]["k"] is None

    def test_two_optionals(self):
        out = GRAPH.query(
            "SELECT ?n ?k ?a WHERE { ?s <http://x/name> ?n . "
            "OPTIONAL { ?s <http://x/nick> ?k } "
            "OPTIONAL { ?s <http://x/age> ?a } }"
        )
        by_name = {str(r["n"]): r for r in out}
        assert str(by_name["Bob"]["a"]) == "7" and by_name["Bob"]["k"] is None


SUBCLASS = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
LABEL = "http://www.w3.org/2000/01/rdf-schema#label"

# small taxonomy: aspirin -type-> Nsaid -sub-> Analgesic -sub-> Drug
TAX = MiniGraph(
    [
        ("http://o/aspirin", TYPE, "iri", "http://o/Nsaid", None),
        ("http://o/Nsaid", SUBCLASS, "iri", "http://o/Analgesic", None),
        ("http://o/Analgesic", SUBCLASS, "iri", "http://o/Drug", None),
        ("http://o/Drug", LABEL, "literal", "drug", None),
        ("http://o/Nsaid", LABEL, "literal", "nsaid", None),
        ("http://o/paracetamol", TYPE, "iri", "http://o/Analgesic", None),
        ("http://o/ibuprofen", "http://o/altType", "iri", "http://o/Nsaid", None),
    ]
)

PFX = (
    "PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#> "
    "PREFIX o: <http://o/> "
)


def iris(rows, var):
    return sorted(str(r[var]) for r in rows)


class TestUnion:
    def test_two_arm_union(self):
        out = TAX.query(
            PFX + "SELECT ?s WHERE { { ?s a o:Nsaid } UNION "
            "{ ?s o:altType o:Nsaid } }"
        )
        assert iris(out, "s") == ["http://o/aspirin", "http://o/ibuprofen"]

    def test_union_joins_with_surrounding_patterns(self):
        # bindings flow INTO the union arms (join, not cross product)
        out = TAX.query(
            PFX + "SELECT ?s ?l WHERE { ?c rdfs:label ?l . "
            "{ ?s a ?c } UNION { ?s o:altType ?c } }"
        )
        got = sorted((str(r["s"]), str(r["l"])) for r in out)
        assert got == [
            ("http://o/aspirin", "nsaid"),
            ("http://o/ibuprofen", "nsaid"),
        ]

    def test_three_arm_union_and_nested_filter(self):
        out = TAX.query(
            PFX + "SELECT ?s WHERE { { ?s a o:Nsaid } UNION "
            "{ ?s a o:Analgesic } UNION "
            '{ ?s o:altType ?t FILTER (regex(?t, "Nsaid")) } }'
        )
        assert iris(out, "s") == [
            "http://o/aspirin",
            "http://o/ibuprofen",
            "http://o/paracetamol",
        ]

    def test_empty_arm_contributes_nothing(self):
        out = TAX.query(
            PFX + "SELECT ?s WHERE { { ?s a o:Nsaid } UNION { ?s a o:Nope } }"
        )
        assert iris(out, "s") == ["http://o/aspirin"]


class TestPropertyPaths:
    def test_sequence_path(self):
        out = TAX.query(
            PFX + "SELECT ?c WHERE { o:aspirin a/rdfs:subClassOf ?c }"
        )
        assert iris(out, "c") == ["http://o/Analgesic"]

    def test_star_closure_includes_zero_length(self):
        out = TAX.query(
            PFX + "SELECT ?c WHERE { o:Nsaid rdfs:subClassOf* ?c }"
        )
        assert iris(out, "c") == [
            "http://o/Analgesic",
            "http://o/Drug",
            "http://o/Nsaid",
        ]

    def test_star_zero_length_on_term_absent_from_graph(self):
        out = TAX.query(
            PFX + "SELECT ?c WHERE { o:Unknown rdfs:subClassOf* ?c }"
        )
        assert iris(out, "c") == ["http://o/Unknown"]

    def test_plus_closure_excludes_zero_length(self):
        out = TAX.query(
            PFX + "SELECT ?c WHERE { o:Nsaid rdfs:subClassOf+ ?c }"
        )
        assert iris(out, "c") == ["http://o/Analgesic", "http://o/Drug"]

    def test_type_through_subclass_star(self):
        # the canonical ontology lookup: instances of Analgesic incl. subs
        out = TAX.query(
            PFX + "SELECT ?s WHERE { ?s a/rdfs:subClassOf* o:Analgesic }"
        )
        assert iris(out, "s") == ["http://o/aspirin", "http://o/paracetamol"]

    def test_inverse_path(self):
        out = TAX.query(
            PFX + "SELECT ?s WHERE { o:Nsaid ^a ?s }"
        )
        assert iris(out, "s") == ["http://o/aspirin"]

    def test_alternation_path(self):
        out = TAX.query(
            PFX + 'SELECT ?t WHERE { ?s a|o:altType ?t . FILTER (regex(?s, "/ibu")) }'
        )
        assert iris(out, "t") == ["http://o/Nsaid"]

    def test_grouped_path_with_closure(self):
        out = TAX.query(
            PFX + "SELECT ?c WHERE { o:aspirin (a/rdfs:subClassOf)+ ?c }"
        )
        # one (a/sub) hop from aspirin: Analgesic; a second (a/sub) hop
        # needs a 'type' edge from Analgesic — none, so closure stops
        assert iris(out, "c") == ["http://o/Analgesic"]

    def test_maybe_path(self):
        out = TAX.query(
            PFX + "SELECT ?c WHERE { o:Analgesic rdfs:subClassOf? ?c }"
        )
        assert iris(out, "c") == ["http://o/Analgesic", "http://o/Drug"]

    def test_backward_eval_bound_object(self):
        out = TAX.query(
            PFX + "SELECT ?s WHERE { ?s rdfs:subClassOf+ o:Drug }"
        )
        assert iris(out, "s") == ["http://o/Analgesic", "http://o/Nsaid"]

    def test_both_endpoints_unbound(self):
        out = TAX.query(PFX + "SELECT ?s ?c WHERE { ?s rdfs:subClassOf+ ?c }")
        got = sorted((str(r["s"]), str(r["c"])) for r in out)
        assert got == [
            ("http://o/Analgesic", "http://o/Drug"),
            ("http://o/Nsaid", "http://o/Analgesic"),
            ("http://o/Nsaid", "http://o/Drug"),
        ]

    def test_path_var_object_whitespace_not_a_modifier(self):
        # 'rdfs:subClassOf ?c' — the '?' after whitespace is the object
        # var, not a zero-or-one modifier
        out = TAX.query(PFX + "SELECT ?c WHERE { o:Nsaid rdfs:subClassOf ?c }")
        assert iris(out, "c") == ["http://o/Analgesic"]

    def test_same_variable_both_ends_requires_self_reachability(self):
        # regression: ?x p+ ?x used to bind ?x to the path TARGET and
        # return spurious rows; only self-reaching terms qualify
        out = TAX.query(PFX + "SELECT ?x WHERE { ?x rdfs:subClassOf+ ?x }")
        assert out == []
        cyc = MiniGraph(
            [
                ("http://c/a", SUBCLASS, "iri", "http://c/b", None),
                ("http://c/b", SUBCLASS, "iri", "http://c/a", None),
                ("http://c/x", SUBCLASS, "iri", "http://c/y", None),
            ]
        )
        out2 = cyc.query(
            "PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#> "
            "SELECT ?x WHERE { ?x rdfs:subClassOf+ ?x }"
        )
        assert iris(out2, "x") == ["http://c/a", "http://c/b"]

    def test_cycle_terminates(self):
        cyc = MiniGraph(
            [
                ("http://c/a", SUBCLASS, "iri", "http://c/b", None),
                ("http://c/b", SUBCLASS, "iri", "http://c/a", None),
            ]
        )
        out = cyc.query(
            "PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#> "
            "SELECT ?c WHERE { <http://c/a> rdfs:subClassOf+ ?c }"
        )
        assert iris(out, "c") == ["http://c/a", "http://c/b"]


class TestNegatedPropertySets:
    def test_bare_negation(self):
        out = TAX.query(PFX + "SELECT ?x WHERE { o:Nsaid !a ?x }")
        got = sorted(str(r["x"]) for r in out)
        assert got == ["http://o/Analgesic", "nsaid"]
        out2 = TAX.query(PFX + "SELECT ?x WHERE { o:Nsaid !rdfs:subClassOf ?x }")
        assert [str(r["x"]) for r in out2] == ["nsaid"]

    def test_set_excludes_all_members(self):
        out = TAX.query(
            PFX + "SELECT ?x WHERE { o:Nsaid !(rdfs:subClassOf|rdfs:label) ?x }"
        )
        assert out == []

    def test_inverse_only_member(self):
        # !(^a): ONLY inverse edges match (no forward member), and the
        # rdf:type inverse edge from paracetamol is excluded
        out = TAX.query(PFX + "SELECT ?x WHERE { o:Analgesic !(^a) ?x }")
        assert [str(r["x"]) for r in out] == ["http://o/Nsaid"]

    def test_mixed_forward_and_inverse(self):
        out = TAX.query(
            PFX + "SELECT ?x WHERE { o:Analgesic !(rdfs:label|^a) ?x }"
        )
        got = sorted(str(r["x"]) for r in out)
        assert got == ["http://o/Drug", "http://o/Nsaid"]

    def test_negset_with_star_closure(self):
        out = TAX.query(
            PFX + "SELECT ?x WHERE { o:aspirin !(rdfs:label)* ?x }"
        )
        got = sorted(str(r["x"]) for r in out)
        assert got == [
            "http://o/Analgesic",
            "http://o/Drug",
            "http://o/Nsaid",
            "http://o/aspirin",
        ]

    def test_backward_eval_bound_object(self):
        out = TAX.query(
            PFX + "SELECT ?s WHERE { ?s !rdfs:label o:Analgesic }"
        )
        got = sorted(str(r["s"]) for r in out)
        assert got == ["http://o/Nsaid", "http://o/paracetamol"]

    def test_bad_member_raises(self):
        with pytest.raises(ProcessorException):
            TAX.query(PFX + "SELECT ?x WHERE { o:Nsaid !(?v) ?x }")


class TestSolutionModifiers:
    def test_distinct_collapses_duplicate_rows(self):
        # two typing routes to RelationalOp would duplicate ?c without it
        out = TAX.query(
            PFX + "SELECT DISTINCT ?c WHERE { ?s rdfs:subClassOf+ ?c }"
        )
        assert iris(out, "c") == ["http://o/Analgesic", "http://o/Drug"]
        out2 = TAX.query(PFX + "SELECT ?c WHERE { ?s rdfs:subClassOf+ ?c }")
        assert len(out2) == 3  # without DISTINCT the dupes remain

    def test_limit(self):
        out = TAX.query(
            PFX + "SELECT ?s WHERE { ?s rdfs:label ?l } LIMIT 1"
        )
        assert len(out) == 1

    def test_select_star(self):
        out = TAX.query(PFX + "SELECT * WHERE { o:Nsaid rdfs:label ?l }")
        assert len(out) == 1 and str(out[0]["l"]) == "nsaid"

    def test_distinct_not_a_variable(self):
        # regression: DISTINCT used to parse as a selected var named
        # 'DISTINCT' and silently return None columns
        out = TAX.query(PFX + "SELECT DISTINCT ?l WHERE { o:Nsaid rdfs:label ?l }")
        assert str(out[0]["l"]) == "nsaid"

    def test_order_by_asc(self):
        out = TAX.query(PFX + "SELECT ?l WHERE { ?s rdfs:label ?l } ORDER BY ?l")
        assert [str(r["l"]) for r in out] == ["drug", "nsaid"]

    def test_order_by_desc(self):
        out = TAX.query(
            PFX + "SELECT ?l WHERE { ?s rdfs:label ?l } ORDER BY DESC(?l)"
        )
        assert [str(r["l"]) for r in out] == ["nsaid", "drug"]

    def test_order_by_numeric_not_lexicographic(self):
        out = GRAPH.query(
            "SELECT ?a WHERE { ?s <http://x/age> ?a } ORDER BY ?a"
        )
        # "7" < "19" < "34" numerically; lexical order would put "19" first
        assert [str(r["a"]) for r in out] == ["7", "19", "34"]

    def test_order_by_unselected_var_and_offset_limit(self):
        out = GRAPH.query(
            "SELECT ?n WHERE { ?s <http://x/age> ?a . ?s <http://x/name> ?n } "
            "ORDER BY DESC(?a) OFFSET 1 LIMIT 1"
        )
        assert names(out) == ["carol"]

    def test_offset_beyond_rows_is_empty(self):
        out = TAX.query(
            PFX + "SELECT ?l WHERE { ?s rdfs:label ?l } ORDER BY ?l OFFSET 9"
        )
        assert out == []

    def test_limit_offset_either_order(self):
        a = TAX.query(
            PFX + "SELECT ?l WHERE { ?s rdfs:label ?l } ORDER BY ?l LIMIT 1 OFFSET 1"
        )
        b = TAX.query(
            PFX + "SELECT ?l WHERE { ?s rdfs:label ?l } ORDER BY ?l OFFSET 1 LIMIT 1"
        )
        assert [str(r["l"]) for r in a] == [str(r["l"]) for r in b] == ["nsaid"]

    def test_multi_key_order_mixed_directions(self):
        out = TAX.query(
            PFX + "SELECT ?s ?c WHERE { ?s rdfs:subClassOf+ ?c } "
            "ORDER BY ?s DESC(?c)"
        )
        got = [(str(r["s"]), str(r["c"])) for r in out]
        assert got == [
            ("http://o/Analgesic", "http://o/Drug"),
            ("http://o/Nsaid", "http://o/Drug"),
            ("http://o/Nsaid", "http://o/Analgesic"),
        ]


class TestValues:
    def test_single_var_values_restricts(self):
        out = TAX.query(
            PFX + "SELECT ?s WHERE { VALUES ?c { o:Nsaid o:Analgesic } ?s a ?c }"
        )
        assert iris(out, "s") == ["http://o/aspirin", "http://o/paracetamol"]

    def test_values_after_pattern_joins(self):
        out = TAX.query(
            PFX + "SELECT ?s WHERE { ?s a ?c VALUES ?c { o:Nsaid } }"
        )
        assert iris(out, "s") == ["http://o/aspirin"]

    def test_multi_var_values_with_undef(self):
        out = GRAPH.query(
            "SELECT ?n ?a WHERE { "
            'VALUES (?n ?a) { ("Bob" "7") ("carol" UNDEF) } '
            "?s <http://x/name> ?n . ?s <http://x/age> ?a }"
        )
        got = sorted((str(r["n"]), str(r["a"])) for r in out)
        assert got == [("Bob", "7"), ("carol", "19")]

    def test_values_numeric_token(self):
        out = GRAPH.query(
            "SELECT ?s WHERE { VALUES ?a { 7 } ?s <http://x/age> ?a }"
        )
        assert [str(r["s"]) for r in out] == ["http://x/bob"]

    def test_values_arity_mismatch_raises(self):
        with pytest.raises(ProcessorException, match="arity"):
            GRAPH.query(
                'SELECT ?s WHERE { VALUES (?a ?b) { ("x") } ?s <http://x/name> ?a }'
            )


class TestMinus:
    def test_minus_removes_compatible(self):
        out = TAX.query(
            PFX + "SELECT ?s WHERE { ?s a ?c MINUS { ?s a o:Nsaid } }"
        )
        assert iris(out, "s") == ["http://o/paracetamol"]

    def test_minus_group_does_not_see_outer_bindings(self):
        # the MINUS pattern's ?x is a FRESH scope: it binds to every
        # subclass edge independently, and shares no var with the outer
        # solution → domain-disjoint → removes nothing (SPARQL semantics)
        out = TAX.query(
            PFX + "SELECT ?s WHERE { ?s a o:Nsaid MINUS { ?x rdfs:subClassOf ?y } }"
        )
        assert iris(out, "s") == ["http://o/aspirin"]

    def test_minus_via_shared_var_through_path(self):
        # drop the classes that are a direct subclass of Analgesic (Nsaid)
        out = TAX.query(
            PFX + "SELECT DISTINCT ?c WHERE { ?s a ?c "
            "MINUS { ?c rdfs:subClassOf ?sup FILTER (?sup = o:Analgesic) } }"
        )
        assert iris(out, "c") == ["http://o/Analgesic"]


class TestBind:
    def test_bind_literal_and_var_copy(self):
        out = TAX.query(
            PFX + 'SELECT ?y WHERE { o:Nsaid rdfs:label ?l BIND (?l AS ?y) }'
        )
        assert [str(r["y"]) for r in out] == ["nsaid"]

    def test_bind_str_of_iri(self):
        out = TAX.query(
            PFX + "SELECT ?y WHERE { ?s a o:Nsaid BIND (STR(?s) AS ?y) }"
        )
        assert [str(r["y"]) for r in out] == ["http://o/aspirin"]

    def test_bind_concat_ucase_lcase_strlen(self):
        out = TAX.query(
            PFX + "SELECT ?y WHERE { o:Nsaid rdfs:label ?l "
            'BIND (CONCAT("N=", UCASE(?l), "/", STRLEN(?l)) AS ?y) }'
        )
        assert [str(r["y"]) for r in out] == ["N=NSAID/5"]

    def test_bind_unbound_var_leaves_target_unbound(self):
        out = TAX.query(
            PFX + "SELECT ?s ?y WHERE { ?s a o:Nsaid "
            "OPTIONAL { ?s rdfs:label ?l } BIND (UCASE(?l) AS ?y) }"
        )
        assert len(out) == 1 and out[0]["y"] is None

    def test_bind_already_bound_raises(self):
        with pytest.raises(ProcessorException, match="already bound"):
            TAX.query(
                PFX + 'SELECT ?l WHERE { o:Nsaid rdfs:label ?l BIND ("x" AS ?l) }'
            )

    def test_bind_comparison_and_regex_bind_xsd_boolean(self):
        out = GRAPH.query(
            "SELECT ?n ?c ?r WHERE { ?s <http://x/name> ?n . "
            "?s <http://x/age> ?a BIND (?a = 7 AS ?c) "
            'BIND (regex(?n, "o") AS ?r) }'
        )
        t = LitNode("true", datatype=XSD.boolean)
        f = LitNode("false", datatype=XSD.boolean)
        got = {str(r["n"]): (r["c"], r["r"]) for r in out}
        assert got == {"Alice": (f, f), "Bob": (t, t), "carol": (f, t)}

    def test_bind_then_filter_on_bound_var(self):
        out = TAX.query(
            PFX + "SELECT ?s WHERE { ?s rdfs:label ?l "
            'BIND (UCASE(?l) AS ?u) FILTER (regex(?u, "^NS")) }'
        )
        assert iris(out, "s") == ["http://o/Nsaid"]

    def test_bad_regex_in_filter_raises(self):
        with pytest.raises(ProcessorException, match="invalid regex"):
            TAX.query(
                PFX + 'SELECT ?s WHERE { ?s rdfs:label ?l FILTER (regex(?l, "[")) }'
            )


class TestSubquery:
    def test_basic_subquery_joins_outward(self):
        out = TAX.query(
            PFX + "SELECT ?s WHERE { { SELECT ?s WHERE { ?s a o:Nsaid } } }"
        )
        assert iris(out, "s") == ["http://o/aspirin"]

    def test_subquery_with_order_and_limit(self):
        # top-1 label by DESC order, computed bottom-up inside the subquery
        out = TAX.query(
            PFX + "SELECT ?x ?l WHERE { "
            "{ SELECT ?l WHERE { ?y rdfs:label ?l } ORDER BY DESC(?l) LIMIT 1 } "
            "?x rdfs:label ?l }"
        )
        got = [(str(r["x"]), str(r["l"])) for r in out]
        assert got == [("http://o/Nsaid", "nsaid")]

    def test_subquery_projection_hides_inner_vars(self):
        # the subquery binds ?c internally but projects only ?s, so the
        # outer ?c is fresh and ranges over aspirin's classes
        out = TAX.query(
            PFX + "SELECT ?s ?c WHERE { "
            '{ SELECT ?s WHERE { ?s a ?c . FILTER (regex(?c, "Nsaid")) } } '
            "?s a ?c }"
        )
        got = [(str(r["s"]), str(r["c"])) for r in out]
        assert got == [("http://o/aspirin", "http://o/Nsaid")]

    def test_subquery_joins_on_shared_var_with_preceding_pattern(self):
        out = TAX.query(
            PFX + "SELECT ?s WHERE { ?s a ?c . "
            "{ SELECT DISTINCT ?c WHERE { ?c rdfs:subClassOf o:Analgesic } } }"
        )
        assert iris(out, "s") == ["http://o/aspirin"]

    def test_subquery_distinct_offset(self):
        out = TAX.query(
            PFX + "SELECT ?c WHERE { "
            "{ SELECT DISTINCT ?c WHERE { ?s rdfs:subClassOf+ ?c } "
            "ORDER BY ?c OFFSET 1 } }"
        )
        assert iris(out, "c") == ["http://o/Drug"]


class TestAggregates:
    def test_global_count_star(self):
        out = TAX.query(
            PFX + "SELECT (COUNT(*) AS ?n) WHERE { ?s rdfs:subClassOf ?c }"
        )
        assert len(out) == 1 and str(out[0]["n"]) == "2"

    def test_count_over_zero_solutions_is_zero(self):
        out = TAX.query(
            PFX + "SELECT (COUNT(*) AS ?n) WHERE { ?s a o:Nothing }"
        )
        assert len(out) == 1 and str(out[0]["n"]) == "0"

    def test_count_var_skips_unbound_and_distinct(self):
        out = GRAPH.query(
            "SELECT (COUNT(?k) AS ?n) WHERE { ?s <http://x/name> ?m . "
            "OPTIONAL { ?s <http://x/nick> ?k } }"
        )
        assert str(out[0]["n"]) == "1"  # only alice has a nick
        out2 = TAX.query(
            PFX + "SELECT (COUNT(DISTINCT ?c) AS ?n) WHERE "
            "{ ?s rdfs:subClassOf+ ?c }"
        )
        assert str(out2[0]["n"]) == "2"  # Analgesic, Drug (3 raw rows)

    def test_group_by_with_count(self):
        out = TAX.query(
            PFX + "SELECT ?s (COUNT(?c) AS ?n) WHERE "
            "{ ?s rdfs:subClassOf+ ?c } GROUP BY ?s"
        )
        got = {str(r["s"]): str(r["n"]) for r in out}
        assert got == {"http://o/Analgesic": "1", "http://o/Nsaid": "2"}

    def test_min_max(self):
        out = GRAPH.query(
            "SELECT (MIN(?a) AS ?lo) (MAX(?a) AS ?hi) WHERE "
            "{ ?s <http://x/age> ?a }"
        )
        # numeric term ordering: 7 < 19 < 34 (not lexical)
        assert (str(out[0]["lo"]), str(out[0]["hi"])) == ("7", "34")

    def test_sum_avg(self):
        out = GRAPH.query(
            "SELECT (SUM(?a) AS ?t) (AVG(?a) AS ?m) WHERE "
            "{ ?s <http://x/age> ?a }"
        )
        assert (str(out[0]["t"]), str(out[0]["m"])) == ("60", "20")

    def test_avg_over_nothing_is_unbound_sum_is_zero(self):
        out = GRAPH.query(
            "SELECT (SUM(?a) AS ?t) (AVG(?a) AS ?m) WHERE "
            "{ ?s <http://x/age> ?b . FILTER (?b > 99) "
            "OPTIONAL { ?s <http://x/none> ?a } }"
        )
        assert out[0]["m"] is None and str(out[0]["t"]) == "0"

    def test_plain_var_must_be_grouped(self):
        with pytest.raises(ProcessorException, match="GROUP BY"):
            TAX.query(
                PFX + "SELECT ?s (COUNT(?c) AS ?n) WHERE "
                "{ ?s rdfs:subClassOf ?c }"
            )

    def test_order_by_aggregate_output(self):
        out = TAX.query(
            PFX + "SELECT ?s (COUNT(?c) AS ?n) WHERE "
            "{ ?s rdfs:subClassOf+ ?c } GROUP BY ?s ORDER BY DESC(?n) LIMIT 1"
        )
        assert [str(r["s"]) for r in out] == ["http://o/Nsaid"]

    def test_aggregate_subquery_joins_outward(self):
        # the labelled class with exactly two transitive superclasses
        out = TAX.query(
            PFX + "SELECT ?l WHERE { "
            "{ SELECT ?t (COUNT(?c) AS ?n) WHERE { ?t rdfs:subClassOf+ ?c } "
            "GROUP BY ?t } "
            "FILTER (?n = 2) ?t rdfs:label ?l }"
        )
        assert [str(r["l"]) for r in out] == ["nsaid"]

    def test_group_by_without_aggregate_dedupes(self):
        out = TAX.query(
            PFX + "SELECT ?c WHERE { ?s rdfs:subClassOf+ ?c } GROUP BY ?c"
        )
        assert iris(out, "c") == ["http://o/Analgesic", "http://o/Drug"]

    def test_count_star_distinct(self):
        out = TAX.query(
            PFX + "SELECT (COUNT(DISTINCT *) AS ?n) WHERE "
            "{ ?s rdfs:subClassOf+ ?c }"
        )
        assert str(out[0]["n"]) == "3"

    def test_mixed_star_and_items_raises(self):
        with pytest.raises(ProcessorException, match="mixed"):
            TAX.query(PFX + "SELECT * ?s WHERE { ?s a o:Nsaid }")

    def test_having_filters_groups(self):
        out = TAX.query(
            PFX + "SELECT ?s (COUNT(?c) AS ?n) WHERE "
            "{ ?s rdfs:subClassOf+ ?c } GROUP BY ?s HAVING (?n > 1)"
        )
        got = [(str(r["s"]), str(r["n"])) for r in out]
        assert got == [("http://o/Nsaid", "2")]

    def test_having_in_subquery(self):
        out = TAX.query(
            PFX + "SELECT ?l WHERE { "
            "{ SELECT ?t (COUNT(?c) AS ?n) WHERE { ?t rdfs:subClassOf+ ?c } "
            "GROUP BY ?t HAVING (?n >= 2) } ?t rdfs:label ?l }"
        )
        assert [str(r["l"]) for r in out] == ["nsaid"]

    def test_having_without_grouping_raises(self):
        with pytest.raises(ProcessorException, match="HAVING"):
            TAX.query(
                PFX + "SELECT ?s WHERE { ?s a o:Nsaid } HAVING (?s = o:x)"
            )


class TestLiteralTermEquality:
    LANGG = MiniGraph(
        [
            ("http://x/s", "http://x/p", "literal", "foo", "en"),
            ("http://x/t", "http://x/p", "literal", "foo", None),
        ]
    )

    def test_plain_literal_does_not_match_language_tagged(self):
        # regression: lang=None used to act as a wildcard in BGP
        # patterns while path evaluation compared strictly
        out = self.LANGG.query('SELECT ?s WHERE { ?s <http://x/p> "foo" }')
        assert [str(r["s"]) for r in out] == ["http://x/t"]
        out2 = self.LANGG.query('SELECT ?s WHERE { ?s <http://x/p> "foo"@en }')
        assert [str(r["s"]) for r in out2] == ["http://x/s"]

    @pytest.mark.parametrize(
        "lit", ['"a\\\\b"', '"say \\"hi\\""'], ids=["backslash", "quote"]
    )
    def test_turtle_literal_matches_the_same_query_literal(self, lit):
        g = MiniGraph(parse_ttl(f"@prefix x: <http://x/> .\nx:s x:p {lit} ."))
        out = g.query(f"SELECT ?s WHERE {{ ?s <http://x/p> {lit} }}")
        assert [str(r["s"]) for r in out] == ["http://x/s"]

    def test_number_is_a_term_in_patterns(self):
        out = GRAPH.query(
            "SELECT ?n WHERE { ?s <http://x/age> 7 . ?s <http://x/name> ?n }"
        )
        assert names(out) == ["Bob"]

    def test_select_star_with_group_by_raises(self):
        with pytest.raises(ProcessorException, match="SELECT \\*"):
            TAX.query(PFX + "SELECT * WHERE { ?s ?p ?o } GROUP BY ?s")


class TestGraphPattern:
    NAMED = {"tax": TAX, "people": GRAPH}

    def test_constant_named_graph(self):
        out = TAX.query(
            "SELECT ?n WHERE { GRAPH <people> { ?s <http://x/name> ?n } }",
            named=self.NAMED,
        )
        assert names(out) == ["Alice", "Bob", "carol"]

    def test_join_across_default_and_named(self):
        # default graph (TAX) provides the subject; the named graph is
        # consulted for a pattern sharing ?s — no cross product
        out = GRAPH.query(
            "SELECT ?n ?k WHERE { ?s <http://x/name> ?n . "
            "GRAPH <people> { ?s <http://x/nick> ?k } }",
            named=self.NAMED,
        )
        assert [(str(r["n"]), str(r["k"])) for r in out] == [("Alice", "Al")]

    def test_variable_graph_ranges_and_binds(self):
        out = TAX.query(
            PFX + "SELECT ?g ?s WHERE { GRAPH ?g { ?s rdfs:label ?l } }",
            named=self.NAMED,
        )
        got = sorted((str(r["g"]), str(r["s"])) for r in out)
        assert got == [("tax", "http://o/Drug"), ("tax", "http://o/Nsaid")]

    def test_unknown_constant_graph_raises(self):
        with pytest.raises(ProcessorException, match="Unknown graph"):
            TAX.query(
                "SELECT ?s WHERE { GRAPH <nope> { ?s ?p ?o } }",
                named=self.NAMED,
            )

    def test_graph_without_named_dict_raises(self):
        with pytest.raises(ProcessorException, match="Unknown graph"):
            TAX.query(PFX + "SELECT ?s WHERE { GRAPH <g> { ?s a o:Nsaid } }")


class TestUnsupportedConstructsStillRaise:
    def test_service_raises(self):
        with pytest.raises(ProcessorException, match="SERVICE"):
            TAX.query(
                PFX + "SELECT ?s WHERE { SERVICE <http://ep> { ?s a o:Nsaid } }"
            )

    def test_junk_raises(self):
        with pytest.raises(ProcessorException):
            TAX.query(PFX + "SELECT ?s WHERE { ?s ~~ o:Nsaid }")

    def test_unbalanced_group_raises(self):
        with pytest.raises(ProcessorException):
            TAX.query(PFX + "SELECT ?s WHERE { { ?s a o:Nsaid }")

    def test_text_before_select_raises(self):
        with pytest.raises(ProcessorException, match="PREFIX\\* SELECT"):
            TAX.query(PFX + "ASK { ?s ?p ?o } SELECT ?s WHERE { ?s a o:Nsaid }")


# one SELECT parser: a modifier tail behaves the same in a query and in a
# subquery — (Analgesic, 1 superclass) and (Nsaid, 2) before the tail
MOD_SELECT = "SELECT ?s (COUNT(?c) AS ?n) WHERE { ?s rdfs:subClassOf+ ?c } "


class TestModifierParity:
    @pytest.mark.parametrize(
        "tail, expected",
        [
            (
                "GROUP BY ?s HAVING (?n > 0) ORDER BY DESC(?n) LIMIT 1 OFFSET 1",
                [[("n", "1"), ("s", "http://o/Analgesic")]],
            ),
            ("GROUP BY ?s OFFSET 1 LIMIT 1", [[("n", "2"), ("s", "http://o/Nsaid")]]),
            ("GROUP BY ?s LIMIT 1 ORDER BY ?s", None),
            ("HAVING (?n > 0) GROUP BY ?s", None),
            ("GROUP BY ?s HAVING (?n > 5) HAVING (?n > 0)", None),
            ("GROUP BY ?s ORDER BY ?s ORDER BY ?n", None),
            ("GROUP BY ?s LIMIT 1 LIMIT 2", None),
        ],
    )
    def test_query_and_subquery_agree(self, tail, expected):
        for query in (
            PFX + MOD_SELECT + tail,
            PFX + "SELECT * WHERE { { " + MOD_SELECT + tail + " } }",
        ):
            if expected is None:
                with pytest.raises(ProcessorException, match="at most once") as ei:
                    TAX.query(query)
                assert "only ORDER BY / LIMIT / OFFSET" not in str(ei.value)
            else:
                rows = [sorted((k, str(v)) for k, v in r.items()) for r in TAX.query(query)]
                assert rows == expected


class TestParseTtl:
    HEAD = "@prefix x: <http://x/> .\nx:a x:p x:b .\n"

    def test_comment_line_is_skipped(self):
        rows = parse_ttl(self.HEAD + "  # a comment x:z x:y x:w .\n")
        assert rows == [("http://x/a", "http://x/p", "iri", "http://x/b", None)]

    @pytest.mark.parametrize(
        "stmt",
        ["x:a x:p x:b ; x:q x:c .", "x:a x:p x:b , x:c .", 'x:a x:p "5"^^x:int .'],
        ids=["semicolon", "comma", "datatype"],
    )
    def test_unreadable_statement_raises_naming_it(self, stmt):
        with pytest.raises(ProcessorException, match="Cannot read Turtle") as ei:
            parse_ttl(self.HEAD + stmt + "\nx:c x:p x:d .\n")
        assert stmt in str(ei.value)


class TestWorkflowSelectWithFilter:
    def test_select_filter_in_workflow(self):
        from cmc_knowledge_graph_text2ttl_spark.workflow import run_document as rd
        from cmc_knowledge_graph_text2ttl_spark.workflow.compile import compile_workflow

        src = """
- select: n
  from: g
  where: 'SELECT ?n WHERE { ?s <http://x/age> ?a . ?s <http://x/name> ?n . FILTER (?a > 30) }'
- subject: http://e/s
  predicate: http://e/p
  object: "^@{n}"
"""
        res = rd(
            "",
            compile_workflow(src, "wf_filter"),
            query_fn=make_query_fn({"g": GRAPH}),
        )
        assert res.error is None
        assert res.triples[0][3] == "Alice"


class TestThreeValuedLogic:
    # regression (round-4 ADVICE): an errored (unbound) arm must propagate
    # through || / && per SPARQL three-valued logic — error || false is
    # error (binding dropped under negation), not plain false.

    def test_negated_or_with_unbound_arm_drops_binding(self):
        # ?k is unbound for bob/carol → (?k = "zz" || false-ish arm) is
        # error → !error is error → top-level filter false → dropped.
        # Under the old coercion !(false) kept them.
        out = GRAPH.query(
            'SELECT ?n WHERE { ?s <http://x/name> ?n '
            'OPTIONAL { ?s <http://x/nick> ?k } '
            'FILTER (!(?k = "zz" || ?n = "nobody")) }'
        )
        assert names(out) == ["Alice"]  # only alice has ?k bound

    def test_or_with_one_true_arm_still_true(self):
        out = GRAPH.query(
            'SELECT ?n WHERE { ?s <http://x/name> ?n '
            'OPTIONAL { ?s <http://x/nick> ?k } '
            'FILTER (?k = "Al" || ?n = "Bob") }'
        )
        assert names(out) == ["Alice", "Bob"]

    def test_and_with_definitive_false_arm_is_false_not_error(self):
        # false && error = false → negation keeps the binding
        out = GRAPH.query(
            'SELECT ?n WHERE { ?s <http://x/name> ?n '
            'OPTIONAL { ?s <http://x/nick> ?k } '
            'FILTER (!(?n = "nobody" && ?k = "Al")) }'
        )
        assert names(out) == ["Alice", "Bob", "carol"]

    def test_and_with_unbound_arm_and_no_false_arm_is_error(self):
        # error && error = error → negation drops bob/carol; alice's
        # second arm is definitively false ("Al" = "zz") → false → kept
        out = GRAPH.query(
            'SELECT ?n WHERE { ?s <http://x/name> ?n '
            'OPTIONAL { ?s <http://x/nick> ?k } '
            'FILTER (!(?a != "x" && ?k = "zz")) }'
        )
        assert names(out) == ["Alice"]
