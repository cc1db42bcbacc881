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
2. A top-level ``def``/``class``/assignment ``N`` in a non-``__init__``
   module ``M`` must be referenced from package or root code outside its
   own definition span, and a reference is keyed on ``(M, N)``: a
   ``Name`` node in ``M`` itself, a ``from M import N`` (``__init__``
   re-exports followed per name, as in check 1), or ``alias.N`` where an
   import binds ``alias`` to ``M``. A same-named definition in another
   module is not a use. AST nodes, not tokens: an f-string's expressions
   are nodes too, so a use in ``f"{_helper(x)}"`` counts, while a word in
   a docstring does not.
3. Every defaulted parameter of a public function (module level, or a
   public method of a public class) in any package module must be
   passed by some call in some repo ``.py`` file, tests included: a test
   that forces a guard or injects a fake is a real use. Calls match by
   function name; a positional argument, a keyword, or a ``*args`` /
   ``**kwargs`` forward sets a parameter, except that a constant of the
   default's own type and value (``f(n=5)`` for ``def f(n=5)``) does
   not: that option is configurable in name only. The benchmark's files
   (``bench*.py`` and ``perfbench/``) are frozen with the benchmark, so
   their calls count however they pass the value. A function used as a
   value (stored in a table, then called through a variable or a
   subscript) also counts every such indirect call in that file as a
   call of it; only a bare name is that use, not an attribute of the
   same name (a Row field ``r.fingerprint``). An option nothing sets is deleted by folding it into its
   default.
4. Within the CLI's import closure, every top-level definition is reached
   from ``cli.py`` (following names from the CLI module and from each
   closure module's import-time statements, definition by definition),
   or from one of the ``CLI_CLOSURE_ENTRY_POINTS`` other tools call, or
   is a helper only those reach. Each entry point is paired with a file
   that references it, so the list cannot go stale. Test-data writers
   live in the repo-root ``fixture_writers.py``, which is not a root:
   a writer moved back into the package fails check 2 (used by nothing)
   or this check (a closure module's definition the CLI never runs).
5. Every module-level import of a non-``__init__`` package module is
   referenced by a ``Name`` node in that module (``from __future__``
   exempt).
6. Every public method of a public package class is referenced, as a
   ``Name`` or ``Attribute`` node with its bare name, by some non-test
   repo file outside its own ``def``: a method only tests call is dead
   code too. A class with a base outside the package is exempt, because
   its methods are that base's hooks.
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

    def __init__(self, paths=None, trees=None):
        """The real package, or the synthetic one ``paths``/``trees`` give."""
        self.paths = paths or package_modules()
        self.trees = trees or {m: _parse(p) for m, p in self.paths.items()}

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

    def targets(self, mod, name):
        """Definitions ``(module, name)`` that ``name`` imported from ``mod``
        resolves to, ``__init__`` re-exports followed per name."""
        if mod not in self.paths:
            return []
        if not self.is_package(mod):
            return [(mod, name)]
        return [
            t for sub, n in self._reexport(mod, name) if n is not None for t in self.targets(sub, n)
        ]

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


def _references(tree):
    """(name, line) of every Name, Attribute and import-alias node, by bare
    name (checks 4 and 6)."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.end_lineno
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                yield a.name.rsplit(".", 1)[-1], node.lineno


def _dotted(node):
    """``a.b.c`` for a chain of attributes on a name, else None."""
    if isinstance(node, ast.Name):
        return node.id
    head = _dotted(node.value) if isinstance(node, ast.Attribute) else None
    return head and f"{head}.{node.attr}"


def _uses(graph, tree, mod=None):
    """(``(module, name)``, line) of each reference ``tree`` makes to a
    package definition, by check 2's rule. ``mod`` is the tree's own
    package module (None for a root file); an ``__init__``'s imports
    re-export, so they are not uses."""
    bound = {}  # alias -> package modules an import binds it to
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                alias = a.asname or a.name.split(".")[0]
                bound.setdefault(alias, set()).add(a.name if a.asname else alias)
        elif isinstance(node, ast.ImportFrom):
            base = graph._base(mod or "", node)
            for a in node.names:
                if f"{base}.{a.name}" in graph.paths:
                    bound.setdefault(a.asname or a.name, set()).add(f"{base}.{a.name}")
                elif not (mod and graph.is_package(mod)):
                    yield from ((t, node.lineno) for t in graph.targets(base, a.name))
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and mod:
            yield (mod, node.id), node.lineno
        elif isinstance(node, ast.Attribute):
            head, _, rest = (_dotted(node.value) or "").partition(".")
            for m in bound.get(head, ()):
                target = f"{m}.{rest}" if rest else m
                yield from ((t, node.end_lineno) for t in graph.targets(target, node.attr))


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
    """(name, positional index or None, default node) of each parameter
    with a default; a method's index does not count ``self``/``cls``."""
    a = fn.args
    pos = (a.posonlyargs + a.args)[1 if is_method else 0:]
    first = len(pos) - len(a.defaults)
    yield from ((arg.arg, i, a.defaults[i - first]) for i, arg in enumerate(pos) if i >= first)
    yield from ((arg.arg, None, d) for arg, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)


def _is_default(arg, default):
    """``arg`` is a constant of the same type and value as ``default``."""
    return (
        isinstance(arg, ast.Constant)
        and isinstance(default, ast.Constant)
        and type(arg.value) is type(default.value)
        and arg.value == default.value
    )


def _sets(call, frozen, name, index, default):
    """``call`` passes parameter ``name`` a value other than its default
    literal (any value, in a ``frozen`` file)."""

    def counts(arg):
        return frozen or not _is_default(arg, default)

    return (
        any(k.arg is None or (k.arg == name and counts(k.value)) for k in call.keywords)
        or any(isinstance(x, ast.Starred) for x in call.args)
        or (index is not None and index < len(call.args) and counts(call.args[index]))
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


def unset_parameters(functions, trees, frozen=()):
    """``label(param)`` of each defaulted parameter in ``functions`` that
    no call in ``trees`` or in the ``frozen`` trees sets."""
    wanted = {fn.name for _, fn, _ in functions}
    calls = {}
    for tree, is_frozen in [(t, False) for t in trees] + [(t, True) for t in frozen]:
        nodes = list(ast.walk(tree))
        file_calls = [n for n in nodes if isinstance(n, ast.Call)]
        for c in file_calls:
            calls.setdefault(_name(c.func), []).append((c, is_frozen))
        callees = {id(c.func) for c in file_calls}
        escaped = {
            n.id
            for n in nodes
            if isinstance(n, ast.Name) and id(n) not in callees and isinstance(n.ctx, ast.Load)
        }
        for name in escaped & wanted:
            calls.setdefault(name, []).extend((c, is_frozen) for c in _through_variables(tree))
    return [
        f"{label}({name})"
        for label, fn, is_method in functions
        for name, index, default in _defaulted(fn, is_method)
        if not any(_sets(c, f, name, index, default) for c, f in calls.get(fn.name, ()))
    ]


def _is_frozen(path):
    """A benchmark file: ``bench*.py`` at the root or under ``perfbench/``."""
    parts = path.relative_to(REPO).parts
    return parts[0] == "perfbench" or (len(parts) == 1 and parts[0].startswith("bench"))


def package_unset_parameters():
    """Unset parameters of every package module, against every repo file."""
    graph = ImportGraph()
    functions = [f for mod in sorted(graph.paths) for f in public_functions(graph.trees[mod], mod)]
    files = repo_files()
    return unset_parameters(
        functions,
        [_parse(p) for p in files if not _is_frozen(p)],
        [_parse(p) for p in files if _is_frozen(p)],
    )


def unreached_modules():
    graph = ImportGraph()
    reached = graph.reach(graph.root_requests())
    return sorted(m for m in graph.paths if m not in reached and m not in ALLOWLIST)


def dead_definitions(graph, roots, unreached=()):
    """``module:name`` of the top-level definitions in the reached
    non-``__init__`` modules of ``graph`` that no code outside their own
    span references (check 2's rule; dunder names exempt). ``roots`` are
    ``(key, tree)`` of the root files. Repeated to a fixpoint: a use
    inside a dead definition or an unreached module does not count."""
    refs = {}
    sources = [(m, t, m) for m, t in graph.trees.items()] + [(k, t, None) for k, t in roots]
    for key, tree, mod in sources:
        for target, line in _uses(graph, tree, mod):
            refs.setdefault(target, []).append((key, line))
    defs = [
        (mod, name, first, last)
        for mod in graph.trees
        if not graph.is_package(mod) and mod not in unreached
        for name, first, last in _definitions(graph.trees[mod])
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
                for key, line in refs.get((mod, name), ())
            )
        }
        if new <= dead:
            return sorted(f"{mod}:{name}" for mod, name, _, _ in dead)
        for mod, _, first, last in new - dead:
            dead_spans.setdefault(mod, []).append((first, last))
        dead |= new


def unreferenced_definitions():
    roots = [(str(p), _parse(p)) for p in root_files()]
    return dead_definitions(ImportGraph(), roots, unreached_modules())


def unused_imports():
    """``module:alias`` of each module-level import (``from __future__``
    aside) in a non-``__init__`` package module that no ``Name`` node of
    the module references."""
    out = []
    for mod, path in package_modules().items():
        if path.name == "__init__.py":
            continue
        tree = _parse(path)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in tree.body:
            if isinstance(node, ast.Import) or (
                isinstance(node, ast.ImportFrom) and node.module != "__future__"
            ):
                aliases = (a.asname or a.name.split(".")[0] for a in node.names)
                out += [f"{mod}:{a}" for a in aliases if a not in used]
    return sorted(out)


def unreferenced_methods():
    """``module:Class.method`` of each public method of a public package
    class with no base outside the package that no non-test repo file
    references outside the method's own span (check 6)."""
    paths = package_modules()
    trees = {m: _parse(p) for m, p in paths.items()}
    classes = {n.name for t in trees.values() for n in t.body if isinstance(n, ast.ClassDef)}
    methods = [
        (mod, cls.name, m)
        for mod, tree in trees.items()
        for cls in tree.body
        if isinstance(cls, ast.ClassDef)
        and not cls.name.startswith("_")
        and all(_name(b) in classes for b in cls.bases)
        for m in cls.body
        if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)) and not m.name.startswith("_")
    ]
    refs = {}  # bare name -> (path, line) of each reference
    for path in repo_files():
        if "tests" in path.relative_to(REPO).parts or path.name.startswith("test_"):
            continue
        for name, line in _references(_parse(path)):
            refs.setdefault(name, []).append((path, line))
    return sorted(
        f"{mod}:{cls}.{m.name}"
        for mod, cls, m in methods
        if not any(
            path != paths[mod] or not m.lineno <= line <= m.end_lineno
            for path, line in refs.get(m.name, ())
        )
    )


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
    """Definitions reached from ``names``, matching by bare name."""
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
    module, line count, and the registry queries that reach it."""
    graph = ImportGraph()
    cli = graph.reach([(m, None) for m in ROOT_MODULES])
    closures = registry_closures()
    rows = []
    for mod in sorted(graph.paths):
        if mod in cli or graph.is_package(mod):
            continue
        n_lines = len(graph.paths[mod].read_text(encoding="utf-8").splitlines())
        queries = [q[2:] for q, reached in closures.items() if mod in reached]
        path = graph.paths[mod].relative_to(PKG).as_posix()
        rows.append(
            f"| `{path}` | {n_lines} | {len(queries)} | {', '.join(queries)} |"
        )
    return rows


def test_every_package_module_is_reached_from_an_entry_point():
    assert unreached_modules() == []


def test_every_top_level_definition_is_referenced():
    assert unreferenced_definitions() == []


def test_every_module_level_import_is_used():
    assert unused_imports() == []


def test_every_defaulted_parameter_is_set_by_some_caller():
    assert package_unset_parameters() == []


def test_every_public_method_is_referenced_outside_tests():
    assert unreferenced_methods() == []


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
    # reading an attribute named like a function (a Row field) does not
    # use the function as a value, so a call through a variable sets nothing
    attribute = ast.parse("r.g\nfn = pick()\nfn(x=1)\n")
    assert unset_parameters(functions, [attribute]) == unset_parameters(functions, [nothing])
    # a constant equal in type and value to the default sets nothing...
    defaults = ast.parse("f(0, 1, c=2, d=3)\ng(x=0)\nK().m(0)\n")
    assert unset_parameters(functions, [defaults]) == unset_parameters(functions, [nothing])
    # ...unless its type differs (True == 1, but it is a bool)...
    assert unset_parameters(functions, [ast.parse("f(0, True)\n")])[0] == "lib:f(c)"
    # ...or the call is in a frozen file, whose calls count as written
    assert unset_parameters(functions, [], [defaults]) == []


def test_reexports_count_only_for_the_names_imported_through_them():
    graph = ImportGraph()
    via_init = graph.reach([(f"{PKG_NAME}.sinks", "write_ntriples")])
    assert f"{PKG_NAME}.sinks.ttl" in via_init
    bare = graph.reach([(f"{PKG_NAME}.sinks", None)])
    assert f"{PKG_NAME}.sinks.ttl" not in bare


def test_same_named_definitions_in_two_modules_keep_only_themselves_alive():
    sources = {
        "pkg": "from .a import f\n",
        "pkg.a": "_X = 1\ndef f():\n    return _X\n",
        "pkg.b": "_X = 2\ndef g():\n    return 2\ndef h():\n    return 3\n",
        "pkg.c": "def k():\n    return 4\n",
    }
    paths = {m: Path(*m.split(".")).with_suffix(".py") for m in sources}
    paths["pkg"] = Path("pkg/__init__.py")
    graph = ImportGraph(paths, {m: ast.parse(src) for m, src in sources.items()})
    root = ast.parse(
        "from pkg import f\n"  # through the __init__ re-export
        "import pkg.b as b\n"
        "b.g()\n"  # alias.N
        "from pkg.c import k\n"  # from M import N
        "x.h()\n"  # an attribute on a non-import is not a use
    )
    assert dead_definitions(graph, [("root.py", root)]) == ["pkg.b:_X", "pkg.b:h"]


def test_fstring_uses_are_references():
    tree = ast.parse('def f(x):\n    return f"{_helper(x)}"\n')
    assert ("_helper", 2) in set(_references(tree))


if __name__ == "__main__":
    # Regenerates the COVERAGE.md family map.
    print("\n".join(family_map()))
