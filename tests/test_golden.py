"""Golden regression tests (FIXTURES.md §5): the distributed engine must
reproduce the checked-in oracle goldens exactly — triples per workflow
(canonical N-Triples), extraction byte hashes, and the stable best-of
tie-break between the wf_alt_a/wf_alt_b competitors. The interpreter
alone must reproduce the match-family, emission-family and control-family
sweeps' per-workflow digests.
"""

import csv
import glob
import hashlib
import os

import pytest

from cmc_knowledge_graph_text2ttl_spark.operators import (
    explode_triples,
    extract_text,
    run_workflows,
)
from cmc_knowledge_graph_text2ttl_spark.sinks import triples_to_nt_lines
from cmc_knowledge_graph_text2ttl_spark.sources import synth_pages_df
from cmc_knowledge_graph_text2ttl_spark.workflow.compile import compile_workflow_file
from cmc_knowledge_graph_text2ttl_spark.workflow.sparql import parse_ttl
from fixture_writers import (
    control_sweep_results,
    emission_sweep_results,
    logged_result_fields,
    match_sweep_digests,
    sweep_digests,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLDEN = os.path.join(REPO, "fixtures", "golden")
N_DOCS = 60


@pytest.fixture(scope="module")
def all_programs():
    paths = sorted(glob.glob(f"{REPO}/fixtures/workflows/*.yaml")) + sorted(
        glob.glob(f"{REPO}/fixtures/workflows_ops/*.yaml")
    )
    return [compile_workflow_file(p, index=i) for i, p in enumerate(paths)]


@pytest.fixture(scope="module")
def engine_triples(spark, all_programs):
    with open(f"{REPO}/fixtures/ontology.ttl") as fh:
        graphs = {"ontology": parse_ttl(fh.read())}
    pages = synth_pages_df(spark, N_DOCS, slices=3)
    res = run_workflows(extract_text(pages), all_programs, graphs=graphs)
    tri = explode_triples(res)
    by_wf = {}
    for r in tri.collect():
        by_wf.setdefault(r.workflow, []).append(
            (r.subj, r.pred, r.obj_kind, r.obj_lexical, r.obj_lang, r.obj_datatype)
        )
    return by_wf


def test_every_workflow_matches_golden(engine_triples):
    golden_files = sorted(glob.glob(f"{GOLDEN}/*.nt"))
    assert len(golden_files) >= 12
    for path in golden_files:
        wf_name = os.path.splitext(os.path.basename(path))[0]
        with open(path) as fh:
            expect = [l for l in fh.read().splitlines() if l]
        got = sorted(triples_to_nt_lines(engine_triples.get(wf_name, [])))
        assert got == sorted(expect), f"{wf_name}: engine != golden"


def test_extraction_hashes_match_golden(spark):
    with open(f"{GOLDEN}/text_hashes.csv") as fh:
        golden = {r["url"]: (r["sha256"], r["error"]) for r in csv.DictReader(fh)}
    pages = synth_pages_df(spark, N_DOCS, slices=3)
    for r in extract_text(pages).collect():
        g_hash, g_err = golden[r.url]
        if r.extract_error:
            assert g_err, r.url
        else:
            assert hashlib.sha256(r.text.encode()).hexdigest() == g_hash, r.url


def test_alt_tie_break_stable(spark):
    """wf_alt_a and wf_alt_b tie on kv/table/entity docs (identical stats);
    A (earlier index) must win every tie; B wins section docs outright."""
    progs = [
        compile_workflow_file(f"{REPO}/fixtures/workflows_ops/wf_alt_a.yaml", index=0),
        compile_workflow_file(f"{REPO}/fixtures/workflows_ops/wf_alt_b.yaml", index=1),
    ]
    pages = synth_pages_df(spark, N_DOCS, slices=3)
    ranked = run_workflows(extract_text(pages), progs, select_best=True)
    rows = ranked.collect()
    stats = {}
    for r in rows:
        stats.setdefault(r.url, {})[r.workflow] = r
    winners = {r.url: r.workflow for r in rows if r.is_best}
    tie_urls = [
        u for u, by in stats.items()
        if len(by) == 2
        and (by["wf_alt_a"].no_triples, by["wf_alt_a"].no_matches, by["wf_alt_a"].total_match_len)
        == (by["wf_alt_b"].no_triples, by["wf_alt_b"].no_matches, by["wf_alt_b"].total_match_len)
    ]
    assert tie_urls, "fixture must produce tie cases"
    for u in tie_urls:
        assert winners[u] == "wf_alt_a", u
    b_urls = [u for u, w in winners.items() if w == "wf_alt_b"]
    assert b_urls, "section docs must make wf_alt_b win somewhere"


def _golden_digests(name):
    with open(f"{GOLDEN}/{name}") as fh:
        return [
            (r["workflow"], int(r["runs"]), int(r["error_runs"]), r["sha256"])
            for r in csv.DictReader(fh)
        ]


def test_match_sweep_matches_golden():
    """Every result field of the seeded match-family sweep (triples, the
    three stats, score, dump texts, save-as requests, error text) is what
    the checked-in digests record."""
    assert match_sweep_digests() == _golden_digests("match_sweep.csv")


@pytest.fixture(scope="module")
def emission_sweep():
    return list(emission_sweep_results())


def test_emission_sweep_matches_golden(emission_sweep):
    """Every result field of the seeded emission-family sweep, each
    workflow's compile warnings or compile error included, is what the
    checked-in digests record."""
    assert sweep_digests(emission_sweep) == _golden_digests("emission_sweep.csv")


def test_control_sweep_matches_golden():
    """Every result field and log line of the seeded control-family sweep,
    each workflow's compile warnings included, is what the checked-in
    digests record."""
    assert sweep_digests(control_sweep_results(), logged_result_fields) == _golden_digests(
        "control_sweep.csv")


# One message of each check the emission family makes: the tree checks,
# the object-spec reads and the literal conversions.
EMISSION_ERRORS = (
    "subject already set to", "triple emission without a subject in scope",
    "predicate already set to", "triple emission without a predicate in scope",
    "object given but no predicate is in scope", "both a single object and an object list",
    "Trying to define object for multiple predicates", "inverse: must accompany a predicate",
    "is not a language tag", "defines more than one value attribute",
    "lacks a value attribute", "yields no usable value",
    "does not parse as an int literal", "does not parse as a float literal",
    "date: today yields no value", "is not ISO-format", "date object:",
    "datetime: now falls through", "datetime: requires a format", "datetime object:",
    "produced no usable value during expansion", "no prefix declaration in scope",
    "has invalid type", "is not a triple op", "workflow step must be a mapping",
    "N-Triples cannot write", "inverse: needs an IRI object", "invalid regex",
)


def test_emission_sweep_reaches_every_check(emission_sweep):
    """The sweep fires every emission-family check at least once and
    keeps at least 30% of its runs error-free."""
    errors = [outcome for _, outcome, _ in emission_sweep if isinstance(outcome, str)]
    errors += [r.error for _, _, results in emission_sweep for r in results if r.error]
    assert [m for m in EMISSION_ERRORS if not any(m in e for e in errors)] == []
    runs = [r for _, _, results in emission_sweep for r in results]
    assert sum(r.error is None for r in runs) >= 0.3 * len(runs)
    assert any(warnings for _, warnings, _ in emission_sweep if isinstance(warnings, list))
