"""Every package module and top-level definition is reached from an entry point.

The roots are the CLI module, ``__spark_entry__.py``, the ``bench*.py``
files and the scripts under ``perfbench/``, ``tools/`` and ``scripts/``.
Tests are not roots: code that only a test calls is dead code.

Both checks read the AST only; nothing is imported.

1. Module reachability follows ``import`` / ``from ... import``
   statements anywhere in a file (function-local imports included). An
   ``__init__`` re-export is followed only for the names actually
   imported through it, so a package cannot keep a submodule alive by
   re-exporting it.
2. A top-level ``def``/``class``/assignment in a non-``__init__`` module
   must be referenced by a ``Name``, ``Attribute`` or import ``alias``
   node in package or root code outside its own definition span. Names,
   not tokens: an f-string's expressions are AST nodes too, so a use in
   ``f"{_helper(x)}"`` counts, while a word in a docstring does not.
3. Every defaulted parameter of a public function (module level, or a
   public method of a public class) in the CLI's import closure must be
   passed by some call in some repo ``.py`` file, tests included: a test
   that forces a guard or injects a fake is a real use. Calls match by
   function name; a positional argument, a keyword, or a ``*args`` /
   ``**kwargs`` forward sets a parameter. A function used as a value
   (stored in a table, then called through a variable or a subscript)
   also counts every such indirect call in that file as a call of it. An
   option nothing sets is deleted by folding it into its default.
4. Within the CLI's import closure, every top-level definition is reached
   from ``cli.py`` (following names from the CLI module and from each
   closure module's import-time statements, definition by definition),
   or from one of the ``CLI_CLOSURE_ENTRY_POINTS`` other tools call, or
   is a helper only those reach. Each entry point is paired with a file
   that references it, so the list cannot go stale. Test-data writers
   live in the repo-root ``fixture_writers.py``, which is not a root:
   a writer moved back into the package fails check 2 (used by nothing)
   or this check (a closure module's definition the CLI never runs).
"""

import ast
import builtins
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG_NAME = "cmc_knowledge_graph_text2ttl_spark"
PKG = REPO / PKG_NAME
ROOT_MODULES = (f"{PKG_NAME}.cli",)

# "module" or "module:name" entries exempt from the checks. Keep it empty:
# delete unreached code instead of listing it here.
ALLOWLIST = frozenset()

# Check 4: definitions in the CLI's import closure that ``cli.py`` does not
# run, each with a file (repo-relative) that calls it. Entry points of the
# other tools, not an allowlist: a name the CLI comes to reach, or that its
# file stops referencing, fails the check.
CLI_CLOSURE_ENTRY_POINTS = {
    "extract_and_run_workflows": "perfbench/workloads.py",
    "synth_page_rows": "perfbench/inputs.py",
    "synth_pages_df": "bench_scaling.py",
    "html_to_plain_text": "__spark_entry__.py",
    "triples_to_nt_lines": "tools/make_goldens.py",
    "html_string": f"{PKG_NAME}/operators/pagemeta.py",
}


def _parse(path):
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def package_modules():
    """Dotted module name -> path for every package module."""
    mods = {}
    for path in sorted(PKG.rglob("*.py")):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def root_files():
    files = [REPO / "__spark_entry__.py", *sorted(REPO.glob("bench*.py"))]
    for d in ("perfbench", "tools", "scripts"):
        files += [p for p in sorted((REPO / d).glob("*.py")) if not p.name.startswith("test_")]
    return files


class ImportGraph:
    """Package import edges, with ``__init__`` re-exports followed per name."""

    def __init__(self):
        self.paths = package_modules()
        self.trees = {m: _parse(p) for m, p in self.paths.items()}

    def is_package(self, mod):
        return self.paths[mod].name == "__init__.py"

    def _base(self, mod, node):
        """Absolute module an ``ImportFrom`` in ``mod`` imports from."""
        if node.level == 0:
            return node.module or ""
        parts = mod.split(".") if mod and self.is_package(mod) else mod.split(".")[:-1]
        parts = parts[: len(parts) - (node.level - 1)]
        return ".".join(parts + ([node.module] if node.module else []))

    def _requests(self, node, mod, aliases=None):
        """(module, name) pairs an import statement in ``mod`` asks for;
        name None means the module itself."""
        aliases = node.names if aliases is None else aliases
        if isinstance(node, ast.Import):
            return [(a.name, None) for a in aliases if a.name in self.paths]
        base = self._base(mod, node)
        out = []
        for a in aliases:
            if f"{base}.{a.name}" in self.paths:
                out.append((f"{base}.{a.name}", None))
            elif base in self.paths:
                out.append((base, a.name))
        return out

    def requests(self, tree, mod=""):
        """Every package import made anywhere in ``tree``."""
        return [
            r
            for node in ast.walk(tree)
            if isinstance(node, (ast.Import, ast.ImportFrom))
            for r in self._requests(node, mod)
        ]

    def _reexport(self, pkg, name):
        """Requests behind ``name`` as bound by the ``__init__`` of ``pkg``."""
        for node in self.trees[pkg].body:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    if (a.asname or a.name.split(".")[0]) == name:
                        return self._requests(node, pkg, [a])
        return []

    def reach(self, requests):
        """Modules executed by ``requests``, re-exports followed per name."""
        seen, done = set(), set()
        todo = list(requests)
        while todo:
            mod, name = todo.pop()
            parts = mod.split(".")
            seen.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
            key = (mod, name) if self.is_package(mod) else (mod, None)
            if key in done:
                continue
            done.add(key)
            if not self.is_package(mod):
                todo += self.requests(self.trees[mod], mod)
            elif name is not None:
                todo += self._reexport(mod, name)
        return seen & set(self.paths)

    def root_requests(self):
        reqs = [(m, None) for m in ROOT_MODULES]
        for path in root_files():
            reqs += self.requests(_parse(path))
        return reqs


def _definitions(tree):
    """(name, first line, last line) of each top-level definition."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            yield node.name, first, node.end_lineno
            continue
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        for t in targets:
            for n in ast.walk(t):
                if isinstance(n, ast.Name) and not n.id.startswith("__"):
                    yield n.id, node.lineno, node.end_lineno


def _references(tree, reexports=True):
    """(name, line) of every Name, Attribute and import-alias node; an
    ``__init__`` passes ``reexports=False``, since re-exporting a name is
    not a use of it."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.end_lineno
        elif isinstance(node, ast.Import) or (reexports and isinstance(node, ast.ImportFrom)):
            for a in node.names:
                yield a.name.rsplit(".", 1)[-1], node.lineno


def repo_files():
    """Every ``.py`` file in the repo: package, roots and tests."""
    return [
        p
        for p in sorted(REPO.rglob("*.py"))
        if not any(s.startswith(".") for s in p.relative_to(REPO).parts)
    ]


def public_functions(tree, mod):
    """(label, def node, is_method) of each public module-level function
    and each public method of a public class in ``tree``."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            if not node.name.startswith("_"):
                yield f"{mod}:{node.name}", node, False
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            for m in node.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)) and not m.name.startswith("_"):
                    static = any(
                        isinstance(d, ast.Name) and d.id == "staticmethod" for d in m.decorator_list
                    )
                    yield f"{mod}:{node.name}.{m.name}", m, not static


def _defaulted(fn, is_method):
    """(name, positional index or None) of each parameter with a default;
    a method's index does not count ``self``/``cls``."""
    a = fn.args
    pos = (a.posonlyargs + a.args)[1 if is_method else 0:]
    first = len(pos) - len(a.defaults)
    yield from ((arg.arg, i) for i, arg in enumerate(pos) if i >= first)
    yield from ((arg.arg, None) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)


def _sets(call, name, index):
    return (
        any(k.arg in (None, name) for k in call.keywords)
        or any(isinstance(x, ast.Starred) for x in call.args)
        or (index is not None and index < len(call.args))
    )


def _through_variables(tree):
    """Calls in ``tree`` made through a variable or a subscript: the callee
    is not an attribute, a builtin, or a name a def/class/import binds."""
    bound = set(dir(builtins))
    for n in ast.walk(tree):
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            bound.add(n.name)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            bound.update((a.asname or a.name).split(".")[0] for a in n.names)
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and not isinstance(n.func, ast.Attribute)
        and getattr(n.func, "id", None) not in bound
    ]


def _name(node):
    return getattr(node, "id", getattr(node, "attr", None))


def unset_parameters(functions, trees):
    """``label(param)`` of each defaulted parameter in ``functions`` that
    no call in ``trees`` sets."""
    wanted = {fn.name for _, fn, _ in functions}
    calls = {}
    for tree in trees:
        nodes = list(ast.walk(tree))
        file_calls = [n for n in nodes if isinstance(n, ast.Call)]
        for c in file_calls:
            calls.setdefault(_name(c.func), []).append(c)
        callees = {id(c.func) for c in file_calls}
        escaped = {
            _name(n)
            for n in nodes
            if id(n) not in callees and isinstance(getattr(n, "ctx", None), ast.Load)
        }
        for name in escaped & wanted:
            calls[name] = calls.get(name, []) + _through_variables(tree)
    return [
        f"{label}({name})"
        for label, fn, is_method in functions
        for name, index in _defaulted(fn, is_method)
        if not any(_sets(c, name, index) for c in calls.get(fn.name, ()))
    ]


def closure_unset_parameters(inside_cli=True):
    """Unset parameters of the modules inside (or outside) the CLI's
    import closure, against every repo file."""
    graph = ImportGraph()
    cli = graph.reach([(m, None) for m in ROOT_MODULES])
    mods = sorted(m for m in graph.paths if (m in cli) == inside_cli)
    functions = [f for mod in mods for f in public_functions(graph.trees[mod], mod)]
    return unset_parameters(functions, [_parse(p) for p in repo_files()])


def unreached_modules():
    graph = ImportGraph()
    reached = graph.reach(graph.root_requests())
    return sorted(m for m in graph.paths if m not in reached and m not in ALLOWLIST)


def unreferenced_definitions():
    """``module:name`` of the top-level definitions in reached modules that
    no code outside their own span references (dunder names exempt).
    Repeated to a fixpoint: a use inside a dead definition or an
    unreached module does not count."""
    mods = package_modules()
    unreached = unreached_modules()
    sources = [(m, p, p.name == "__init__.py") for m, p in mods.items()]
    sources += [(str(p), p, False) for p in root_files()]
    trees, refs = {}, {}
    for key, path, is_init in sources:
        trees[key] = _parse(path)
        for name, line in _references(trees[key], reexports=not is_init):
            refs.setdefault(name, []).append((key, line))
    defs = [
        (mod, name, first, last)
        for mod, path in mods.items()
        if path.name != "__init__.py" and mod not in unreached
        for name, first, last in _definitions(trees[mod])
        if f"{mod}:{name}" not in ALLOWLIST
    ]
    dead_spans = {m: [(1, float("inf"))] for m in unreached}
    dead = set()
    while True:
        new = {
            (mod, name, first, last)
            for mod, name, first, last in defs
            if not any(
                (key != mod or not first <= line <= last)
                and not any(a <= line <= b for a, b in dead_spans.get(key, ()))
                for key, line in refs.get(name, ())
            )
        }
        if new <= dead:
            return sorted(f"{mod}:{name}" for mod, name, _, _ in dead)
        for mod, _, first, last in new - dead:
            dead_spans.setdefault(mod, []).append((first, last))
        dead |= new


def cli_closure_definitions():
    """``(module:name -> names its span references)`` for the top-level
    definitions of the CLI's import closure, and the names the CLI reaches
    directly: everything ``cli.py`` references plus what each closure
    module's import-time statements (not definitions) reference."""
    graph = ImportGraph()
    cli = graph.reach([(m, None) for m in ROOT_MODULES])
    defs, start = {}, set()
    binding = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Assign,
               ast.AnnAssign, ast.Import, ast.ImportFrom)
    for mod in sorted(cli):
        tree = graph.trees[mod]
        if mod in ROOT_MODULES:
            start.update(name for name, _ in _references(tree))
        if graph.is_package(mod):
            continue
        refs = list(_references(tree))
        for name, first, last in _definitions(tree):
            defs[f"{mod}:{name}"] = {n for n, line in refs if first <= line <= last}
        for node in tree.body:
            if not isinstance(node, binding):
                start.update(name for name, _ in _references(node))
    return defs, start


def _reach_definitions(defs, names, skip=frozenset()):
    """Definitions reached from ``names``, matching by name as check 2 does."""
    by_name = {}
    for key in defs:
        by_name.setdefault(key.split(":", 1)[1], []).append(key)
    seen, todo = set(), list(names)
    while todo:
        for key in by_name.get(todo.pop(), ()):
            if key not in seen and key not in skip:
                seen.add(key)
                todo += defs[key]
    return seen


def cli_unreached_definitions():
    """(definitions of the CLI's closure the CLI does not reach, those the
    entry points reach but the CLI does not), both sorted."""
    defs, start = cli_closure_definitions()
    from_cli = _reach_definitions(defs, start)
    from_entries = _reach_definitions(defs, CLI_CLOSURE_ENTRY_POINTS, skip=from_cli)
    return sorted(set(defs) - from_cli), sorted(from_entries)


def registry_closures():
    """Registry query name -> package modules its import closure reaches:
    imports inside the query, plus ``__spark_entry__`` module-level imports
    and helpers it uses, transitively."""
    graph = ImportGraph()
    entry = _parse(REPO / "__spark_entry__.py")
    tops, bound = {}, {}
    for node in entry.body:
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                bound[a.asname or a.name.split(".")[0]] = graph._requests(node, "", [a])
        elif isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            tops[node.name] = node
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        tops[n.id] = node
    out = {}
    for query in sorted(n for n in tops if n.startswith("q_")):
        seen, todo, reqs = set(), [query], []
        while todo:
            name = todo.pop()
            if name in seen:
                continue
            seen.add(name)
            reqs += graph.requests(tops[name])
            for n in ast.walk(tops[name]):
                if isinstance(n, ast.Name):
                    todo += [n.id] if n.id in tops else []
                    reqs += bound.get(n.id, [])
        out[query] = graph.reach(reqs)
    return out


def family_map():
    """Markdown rows for every package module the CLI does not import:
    module, line count, unset parameters (check 3's rule), and the
    registry queries that reach it."""
    graph = ImportGraph()
    cli = graph.reach([(m, None) for m in ROOT_MODULES])
    closures = registry_closures()
    unset = [p.split(":", 1)[0] for p in closure_unset_parameters(inside_cli=False)]
    rows = []
    for mod in sorted(graph.paths):
        if mod in cli or graph.is_package(mod):
            continue
        n_lines = len(graph.paths[mod].read_text(encoding="utf-8").splitlines())
        queries = [q[2:] for q, reached in closures.items() if mod in reached]
        path = graph.paths[mod].relative_to(PKG).as_posix()
        rows.append(
            f"| `{path}` | {n_lines} | {unset.count(mod)} | {len(queries)} | {', '.join(queries)} |"
        )
    return rows


def test_every_package_module_is_reached_from_an_entry_point():
    assert unreached_modules() == []


def test_every_top_level_definition_is_referenced():
    assert unreferenced_definitions() == []


def test_every_defaulted_parameter_is_set_by_some_caller():
    assert closure_unset_parameters() == []


def test_cli_closure_holds_only_what_the_cli_or_an_entry_point_runs():
    unreached, from_entries = cli_unreached_definitions()
    assert unreached == from_entries
    for name, path in CLI_CLOSURE_ENTRY_POINTS.items():
        assert any(key.endswith(f":{name}") for key in unreached), f"the CLI reaches {name}"
        assert name in {n for n, _ in _references(_parse(REPO / path))}, f"{path}: no {name}"


def test_positional_keyword_forwarded_and_indirect_calls_set_parameters():
    lib = ast.parse(
        "def f(a, b=1, c=2, *, d=3):\n    pass\n"
        "def g(x=0):\n    pass\n"
        "class K:\n    def m(self, y=0):\n        pass\n"
    )
    functions = list(public_functions(lib, "lib"))
    nothing = ast.parse("f(0)\ng()\nK().m()\n")
    assert unset_parameters(functions, [nothing]) == [
        "lib:f(b)", "lib:f(c)", "lib:f(d)", "lib:g(x)", "lib:K.m(y)",
    ]
    callers = ast.parse(
        "f(0, 1, 2)\n"  # positional use sets b and c
        "def fwd(*a, **kw):\n    return f(0, **kw)\n"  # forwarding sets d
        "K().m(5)\n"  # positional after self sets y
        "table = {'g': g}\n"
        "for fn in table.values():\n    fn(x=1)\n"  # call through a variable
    )
    assert unset_parameters(functions, [callers]) == []


def test_reexports_count_only_for_the_names_imported_through_them():
    graph = ImportGraph()
    via_init = graph.reach([(f"{PKG_NAME}.sinks", "write_ntriples")])
    assert f"{PKG_NAME}.sinks.ttl" in via_init
    bare = graph.reach([(f"{PKG_NAME}.sinks", None)])
    assert f"{PKG_NAME}.sinks.ttl" not in bare


def test_fstring_uses_are_references():
    tree = ast.parse('def f(x):\n    return f"{_helper(x)}"\n')
    assert ("_helper", 2) in set(_references(tree))


if __name__ == "__main__":
    # Regenerates the COVERAGE.md family map.
    print("\n".join(family_map()))
