"""Driver-side workflow compiler.

The reference interprets raw YAML dicts directly with no validation pass
(text_to_turtle_processor.py:689-722). At 10^12-document scale a typo in a
workflow must fail on the driver, *before* a cluster-wide job launches, so
the engine adds a compile step:

* parse YAML once on the driver,
* validate every step against the 31-keyword op set
  (text_to_turtle_processor.py:2764-2799) recursively,
* eagerly compile every statically-known regex (catches bad patterns at
  submit time; ``re`` caches them process-wide so executors pay nothing),
* wrap the plan in a picklable :class:`WorkflowProgram` that is broadcast
  to executors.

Interpretation stays dynamic (prefixes / mappings / procedures are defined
by ops at run time, exactly like the reference), so the compiled artifact
is the validated plan itself, not a lowered IR.
"""

from __future__ import annotations

import io
import re
from dataclasses import dataclass, field
from typing import Any, List, Optional

import yaml

from ..core.errors import WorkflowCompileError

# Keyword order matters: the reference dispatches on the FIRST key of the
# step dict found in keyword_2_method's insertion order
# (text_to_turtle_processor.py:711-718, 2764-2799). Replicated exactly.
KEYWORDS: List[str] = [
    "pass",
    "any-of",
    "set",
    "clear",
    "append",
    "for-each",
    "exec",
    "if",
    "ifdef",
    "ifndef",
    "save-as",
    "procedure",
    "call",
    "replace",
    "match",
    "match-every",
    "within",
    "within-every",
    "with",
    "sequence-of",
    "match-1",
    "match-dimensions",
    "tag-dimension",
    "break",
    "prefix",
    "mapping",
    "map",
    "select",
    "subject",
    "predicate",
    "object",
    "echo",
    "desc",
    "dump",
]

# Step attributes that hold nested op lists, per op keyword. Used only for
# recursive validation; the interpreter re-reads them dynamically.
_NESTED_LIST_ATTRS = {
    "any-of": ("any-of",),
    "for-each": ("do",),
    "if": ("do",),
    "ifdef": ("do",),
    "ifndef": ("do",),
    "procedure": ("do",),
    "match": ("do",),
    "match-every": ("do", "first"),
    "within": ("do",),
    "within-every": ("do", "first"),
    "with": ("do",),
    "match-1": ("do", "first", "leading"),
    "match-dimensions": ("do", "pre"),
}

# Statically-known regex attributes to pre-compile on the driver.
_PATTERN_ATTRS = {
    "replace": "replace",
    "match": "match",
    "match-every": "match-every",
    "within": "within",
    "within-every": "within-every",
}


@dataclass
class WorkflowProgram:
    """A validated, broadcast-ready workflow.

    ``plan`` is the parsed YAML op list; ``name`` identifies the workflow
    in the ``triples``/``doc_stats`` provenance columns; ``index`` is the
    position in the submitted workflow list and provides the stable
    tie-break for best-workflow selection (runner.py:402-407 relies on
    Python's stable sort; we make the order explicit).
    """

    name: str
    plan: list
    index: int = 0
    source: Optional[str] = None
    warnings: List[str] = field(default_factory=list)


def _validate_step(step: Any, path: str, warnings: List[str]) -> None:
    if not isinstance(step, dict):
        raise WorkflowCompileError(f"{path}: step is not a mapping: {step!r}")
    keyword = None
    for kw in KEYWORDS:
        if kw in step:
            keyword = kw
            break
    if keyword is None:
        raise WorkflowCompileError(
            f"{path}: no operation keyword in step keys {sorted(step)!r}"
        )
    # Pre-compile static regexes so bad patterns fail on the driver.
    pat_attr = _PATTERN_ATTRS.get(keyword)
    if pat_attr is not None:
        pat = step.get(pat_attr)
        pats = pat if isinstance(pat, list) else [pat]
        for p in pats:
            if isinstance(p, str):
                try:
                    re.compile(p)
                except re.error as ex:
                    raise WorkflowCompileError(
                        f"{path}: invalid regex for {keyword!r}: {ex}"
                    ) from ex
    if keyword in ("exec",) or (keyword == "set" and "eval" in step):
        warnings.append(
            f"{path}: workflow embeds Python code via "
            f"{'exec' if keyword == 'exec' else 'set/eval'}; it will run "
            "inside executor UDFs (trusted-workflow escape hatch)"
        )
    for attr in _NESTED_LIST_ATTRS.get(keyword, ()):
        sub = step.get(attr)
        if isinstance(sub, list):
            _validate_plan(sub, f"{path}.{attr}", warnings)
    # sequence-of: alternatives/steps entries carry their own do: lists.
    if keyword == "sequence-of":
        for attr in ("alternatives", "steps"):
            entries = step.get(attr)
            if isinstance(entries, list):
                for i, ent in enumerate(entries):
                    if isinstance(ent, dict) and isinstance(ent.get("do"), list):
                        _validate_plan(
                            ent["do"], f"{path}.{attr}[{i}].do", warnings
                        )
    # match-dimensions: positional do-i-j bodies.
    if keyword == "match-dimensions":
        for name, val in step.items():
            if name.startswith("do-") and isinstance(val, list):
                _validate_plan(val, f"{path}.{name}", warnings)
    # Triple fan-out: predicates:/objects: entries are triple sub-steps.
    if keyword in ("subject", "predicate", "object"):
        for attr in ("predicates", "objects"):
            entries = step.get(attr)
            if isinstance(entries, list):
                for i, ent in enumerate(entries):
                    _validate_step(ent, f"{path}.{attr}[{i}]", warnings)


def _validate_plan(plan: Any, path: str, warnings: List[str]) -> None:
    if not isinstance(plan, list):
        raise WorkflowCompileError(f"{path}: plan is not a list: {type(plan)}")
    for i, step in enumerate(plan):
        _validate_step(step, f"{path}[{i}]", warnings)


def compile_workflow(source: str, name: str, index: int = 0) -> WorkflowProgram:
    """Compile a YAML workflow string into a broadcastable program."""
    try:
        plan = yaml.load(io.StringIO(source), yaml.SafeLoader)
    except yaml.YAMLError as ex:
        raise WorkflowCompileError(f"workflow {name!r}: YAML parse error: {ex}") from ex
    if plan is None:
        plan = []
    warnings: List[str] = []
    _validate_plan(plan, name, warnings)
    return WorkflowProgram(name=name, plan=plan, index=index, source=source, warnings=warnings)


def compile_workflow_file(path: str, index: int = 0, name: Optional[str] = None) -> WorkflowProgram:
    with open(path, "r", encoding="utf8") as fh:
        source = fh.read()
    if name is None:
        import os
        import re as _re

        base = os.path.splitext(os.path.basename(path))[0]
        # Workflow-name cleanup mirrors the runner (runner.py:348).
        name = _re.sub(r"\s+", "-", base)
    return compile_workflow(source, name=name, index=index)
