"""``cli.main`` end to end. The CLI runs as ``python -m`` in a subprocess:
``main()`` stops its Spark session on exit, and the tests share one
session for the whole run."""

import json
import os
import subprocess
import sys

import pytest

from cmc_knowledge_graph_text2ttl_spark.sinks import triples_to_nt_lines, write_ntriples
from cmc_knowledge_graph_text2ttl_spark.sources.pages import PAGES_SCHEMA, synth_page_rows

from conftest import REPO

WORKFLOWS = os.path.join(REPO, "fixtures", "workflows", "*.yaml")


def _cli(*args):
    return subprocess.run(
        [sys.executable, "-m", "cmc_knowledge_graph_text2ttl_spark.cli", *args],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )


def _text_dir(path):
    """The text a Spark ``.text`` write left in ``path``, parts in order."""
    parts = sorted(p for p in os.listdir(path) if p.startswith("part-"))
    return "".join(open(os.path.join(path, p), encoding="utf8").read() for p in parts)


def test_cli_run_writes_summary_ttl_and_per_doc_files(spark, tmp_path):
    pages = str(tmp_path / "pages.parquet")
    spark.createDataFrame(list(synth_page_rows(30)), PAGES_SCHEMA).write.parquet(pages)
    wd, ttl, per_doc = (str(tmp_path / d) for d in ("wd", "ttl", "per_doc"))

    proc = _cli(
        "--pages", pages, "--workflows", WORKFLOWS, "--workdir", wd,
        "--master", "local[2]", "--buckets", "3", "--define", "x=1",
        "--ttl-out", ttl, "--per-doc-ttl", per_doc,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])

    def stage(name):
        return spark.read.parquet(os.path.join(wd, name))

    assert summary["docs"] == stage("extract").count()
    assert summary["doc_workflow_rows"] == stage("results").count()
    assert summary["winner_triples"] == stage("triples").count() > 0
    assert summary["final_triples"] == stage("canonical").count()
    assert summary["per_doc_ttl_files"] == len(os.listdir(per_doc))

    ref = str(tmp_path / "ref")
    write_ntriples(stage("canonical"), ref)
    assert _text_dir(ttl) == _text_dir(ref)

    by_doc = {}
    for r in stage("triples").collect():
        by_doc.setdefault(r.url, []).append(
            (r.subj, r.pred, r.obj_kind, r.obj_lexical, r.obj_lang, r.obj_datatype)
        )
    assert len(by_doc) == summary["per_doc_ttl_files"]
    for url, rows in by_doc.items():
        name = url.replace("/", "_").replace(":", "_") + ".ttl"
        with open(os.path.join(per_doc, name), encoding="utf8") as fh:
            assert fh.read() == "".join(f"{line}\n" for line in triples_to_nt_lines(rows))


@pytest.mark.parametrize("flag, value", [("--define", "x"), ("--graph", "g")])
def test_malformed_name_value_option_exits_2(tmp_path, flag, value):
    proc = _cli(
        "--pages", str(tmp_path / "none.parquet"), "--workflows", WORKFLOWS,
        "--workdir", str(tmp_path / "wd"), flag, value,
    )
    assert proc.returncode == 2
    assert f'invalid {flag} "{value}"' in proc.stderr
    assert not (tmp_path / "wd").exists()


def test_cli_ontology_graph_answers_select_lookups(spark, tmp_path):
    pages = str(tmp_path / "pages.parquet")
    spark.createDataFrame(list(synth_page_rows(30)), PAGES_SCHEMA).write.parquet(pages)
    onto = os.path.join("fixtures", "ontology.ttl")
    with open(os.path.join(REPO, "fixtures", "workflows_ops", "wf_query.yaml"), encoding="utf8") as fh:
        src = fh.read()
    assert src.count("from: ontology") == 2
    wf = tmp_path / "wf_query.yaml"
    wf.write_text(src.replace("from: ontology", f"from: {onto}"), encoding="utf8")
    ttl = str(tmp_path / "ttl")

    proc = _cli(
        "--pages", pages, "--workflows", str(wf), "--workdir", str(tmp_path / "wd"),
        "--master", "local[2]", "--buckets", "2", "--ontology", onto, "--ttl-out", ttl,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    classified = [
        line.split(" ")[2]
        for line in _text_dir(ttl).splitlines()
        if " <http://example.org/prop/classifiedAs> " in line
    ]
    assert classified
    assert set(classified) <= {
        f"<http://example.org/kg/class_{c}>"
        for c in ("Drug", "Stimulant", "Solvent", "Sugar", "Salt", "Acid")
    }
