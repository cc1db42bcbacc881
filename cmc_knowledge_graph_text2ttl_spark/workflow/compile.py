"""Driver-side workflow compiler.

The reference interprets raw YAML dicts directly with no validation pass
(text_to_turtle_processor.py:689-722). At 10^12-document scale a typo in a
workflow must fail on the driver, *before* a cluster-wide job launches, so
the engine compiles every workflow once, on the driver:

* parse YAML once,
* compile every step, recursively, through the op table ``OPS`` of
  :mod:`.interpreter` (the reference's keyword_2_method,
  text_to_turtle_processor.py:2764-2799): the handler is picked, the
  attributes are read and type-checked, flags resolved, every static regex
  compiled and every nested plan compiled,
* wrap the compiled steps in a picklable :class:`WorkflowProgram` that is
  broadcast to executors.

A step with no operation keyword, a bad static regex, a non-mapping
top-level step or a YAML error raises :class:`WorkflowCompileError` here.
Any other preparation error (a missing or ill-typed attribute, an unknown
flag) stays a per-document error: the step compiles to one that raises it
when a document reaches it, as the reference would. State defined by ops
at run time (prefixes, mappings, procedures, variables) stays dynamic.
"""

from __future__ import annotations

import io
import os
import re
from dataclasses import dataclass, field
from typing import List, Optional

import yaml

from ..core.errors import WorkflowCompileError
from .interpreter import compile_plan


@dataclass
class WorkflowProgram:
    """A compiled, broadcast-ready workflow.

    ``plan`` is the list of compiled ``(handler, prepared args)`` steps and
    ``source`` the YAML it was compiled from; ``name`` fills the ``workflow``
    column of the results and triples tables; ``index`` is the position in
    the submitted workflow list and provides the stable tie-break for
    best-workflow selection (runner.py:402-407 relies on Python's stable
    sort; we make the order explicit).
    """

    name: str
    plan: list
    index: int = 0
    source: Optional[str] = None
    warnings: List[str] = field(default_factory=list)


def compile_workflow(source: str, name: str, index: int = 0) -> WorkflowProgram:
    """Compile a YAML workflow string into a broadcastable program."""
    try:
        plan = yaml.load(io.StringIO(source), yaml.SafeLoader)
    except yaml.YAMLError as ex:
        raise WorkflowCompileError(f"workflow {name!r}: YAML parse error: {ex}") from ex
    if plan is None:
        plan = []
    if not isinstance(plan, list):
        raise WorkflowCompileError(f"{name}: plan is not a list: {type(plan)}")
    for i, step in enumerate(plan):
        if not isinstance(step, dict):
            raise WorkflowCompileError(f"{name}[{i}]: step is not a mapping: {step!r}")
    warnings: List[str] = []
    steps = compile_plan(plan, name, warnings)
    return WorkflowProgram(name=name, plan=steps, index=index, source=source, warnings=warnings)


def compile_workflow_file(path: str, index: int = 0) -> WorkflowProgram:
    with open(path, "r", encoding="utf8") as fh:
        source = fh.read()
    base = os.path.splitext(os.path.basename(path))[0]
    # Workflow-name cleanup mirrors the runner (runner.py:348).
    return compile_workflow(source, name=re.sub(r"\s+", "-", base), index=index)
