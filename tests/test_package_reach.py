"""Reach guard for the package: every top-level function and class in
``dstlr_spark/`` must be reachable from what the project runs, not only
from tests, and every defaulted parameter of one must be bound there.

The pass is static and name-based (pure AST, no Spark). Roots are every
module-level statement of the package (the registries' ``QUERIES`` /
``ORACLES`` dicts among them), every line of ``jobs/``, ``scripts/``,
``perfbench/``, ``bench.py``, ``bench_extra.py`` and
``__spark_entry__.py``, and the ``TEST_REFERENCES`` below. A reached
name reaches the body of every package definition with that name;
docstrings and import statements are not references (an alias
``from m import a as b`` maps a use of ``b`` to ``a``), and an attribute
``x.name`` refers to ``name`` only when ``x`` is a package module — a
name the file binds by ``import dstlr_spark…``, by ``from dstlr_spark…
import <module>`` or by ``import __spark_entry__`` — so a third-party
``pq.write_table`` does not reach a package ``write_table``. The 14 codec
modules are left to ``test_media_reach.py``, which traces them.

A helper that only a test calls fails here: delete it, route a job or a
registry query through it, or, when it is a test's oracle or reader, add
``TEST_REFERENCES["<module>.<name>"] = "tests/<file>::<test>"``. The entry
must name a test that imports and uses it, and the name must not be
reached otherwise.

The parameter guard applies the same rule to options: a defaulted
parameter of a top-level function or class ``__init__`` that no call in
the roots binds (by position or keyword; a ``*``/``**`` call or a use of
the name other than as a callee binds all) is an option only tests set.
Delete it and keep its value, or make it a module constant read when
the plan is built, which the test monkeypatches; a test-data seam names
its test in ``TEST_SEAMS``.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "dstlr_spark"

#: package definitions kept only as a test's reference implementation or
#: reader, each with the test that uses it
TEST_REFERENCES = {
    "operators.asof.asof_join_pandas": "tests/test_asof.py::test_asof_strategies_agree",
    "plans.pipeline.build_triples": "tests/test_golden.py::test_smoke_corpus_precision_recall",
    "queries.curation.hll_estimate": (
        "tests/test_curation_queries.py::test_hll_registers_estimate_tracks_exact_distinct"
    ),
    "queries.curation.cms_estimate": "tests/test_curation_queries.py::test_cms_estimate_bounds",
    "plans.pipeline.observe_metrics": "tests/test_metrics.py::test_observe_counts_triples_and_docs",
    "operators.linking.link_mentions": "tests/test_linking_enrich.py::test_linking_argmax_and_nulls",
    "operators.linking.resolve_aliases": (
        "tests/test_linking_enrich.py::test_inflected_alias_entries_resolve"
    ),
}

ROOT_FILES = ("bench.py", "bench_extra.py", "__spark_entry__.py")
ROOT_DIRS = ("jobs", "scripts", "perfbench")


def _codec_modules() -> set[str]:
    tree = ast.parse((ROOT / "tests/test_media_reach.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "CODEC_MODULES" for t in node.targets
        ):
            return set(ast.literal_eval(node.value))
    raise AssertionError("CODEC_MODULES not found in test_media_reach.py")


def _module_name(path: Path) -> str:
    return ".".join(path.relative_to(PACKAGE).with_suffix("").parts)


def _is_docstring(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Expr)
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, str)
    )


def _package_modules(tree: ast.Module) -> set[str]:
    """Names ``tree`` binds to a package module (or to ``__spark_entry__``)."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] in ("dstlr_spark", "__spark_entry__"):
                    names.add(a.asname or a.name.split(".")[0])
        elif isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            "dstlr_spark"
        ):
            base = ROOT.joinpath(*node.module.split("."))
            for a in node.names:
                if (base / f"{a.name}.py").exists() or (base / a.name).is_dir():
                    names.add(a.asname or a.name)
    return names


class _Refs(ast.NodeVisitor):
    """Names a piece of code refers to; docstrings are skipped, an import
    binds a name without referring to it, and an attribute refers to its
    name only on a package module."""

    def __init__(self, aliases: dict[str, str], modules: set[str]):
        self.aliases = aliases
        self.modules = modules
        self.names: set[str] = set()

    def _add(self, name: str) -> None:
        self.names.add(name)
        self.names.add(self.aliases.get(name, name))

    def visit_Name(self, node: ast.Name) -> None:
        self._add(node.id)

    def visit_Attribute(self, node: ast.Attribute) -> None:
        receiver = node.value
        while isinstance(receiver, ast.Attribute):  # dstlr_spark.a.b.name
            receiver = receiver.value
        if isinstance(receiver, ast.Name) and receiver.id in self.modules:
            self._add(node.attr)
        self.generic_visit(node)

    def _body(self, body: list[ast.stmt]) -> None:
        for i, stmt in enumerate(body):
            if not (i == 0 and _is_docstring(stmt)):
                self.visit(stmt)

    def visit_FunctionDef(self, node) -> None:
        for d in node.decorator_list:
            self.visit(d)
        self.visit(node.args)
        if node.returns is not None:
            self.visit(node.returns)
        self._body(node.body)

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_ClassDef(self, node: ast.ClassDef) -> None:
        for d in [*node.decorator_list, *node.bases, *node.keywords]:
            self.visit(d)
        self._body(node.body)


def _refs(nodes, aliases, modules) -> set[str]:
    v = _Refs(aliases, modules)
    for n in nodes:
        v.visit(n)
    return v.names


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


@functools.cache
def _sources():
    """(package trees by module, trees of the outside roots, import
    aliases ``asname → name`` across both)."""
    trees = {_module_name(p): _parse(p) for p in sorted(PACKAGE.rglob("*.py"))}
    outside = [ROOT / f for f in ROOT_FILES] + [
        p for d in ROOT_DIRS for p in sorted((ROOT / d).rglob("*.py"))
    ]
    outside_trees = [_parse(p) for p in outside]

    aliases = {}
    for tree in [*trees.values(), *outside_trees]:
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                for a in node.names:
                    if a.asname:
                        aliases[a.asname] = a.name
    return trees, outside_trees, aliases


def _reach(roots: set[str] | frozenset = frozenset()):
    """(definitions, reached names): definitions maps a qualified
    ``module.name`` to its node; names reached from the project's roots
    plus ``roots``."""
    trees, outside_trees, aliases = _sources()
    defs: dict[str, ast.AST] = {}
    by_name: dict[str, list[tuple[ast.AST, set[str]]]] = {}
    frontier = set(roots)
    for mod, tree in trees.items():
        modules = _package_modules(tree)
        for i, node in enumerate(tree.body):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{mod}.{node.name}"] = node
                by_name.setdefault(node.name, []).append((node, modules))
                # decorators, defaults and bases run at import time
                eager = [*node.decorator_list, *getattr(node, "bases", [])]
                if hasattr(node, "args"):
                    eager += node.args.defaults + node.args.kw_defaults
                frontier |= _refs([n for n in eager if n is not None], aliases, modules)
            elif not (i == 0 and _is_docstring(node)):
                frontier |= _refs([node], aliases, modules)
    for tree in outside_trees:
        frontier |= _refs([tree], aliases, _package_modules(tree))

    reached: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in reached:
            continue
        reached.add(name)
        for node, modules in by_name.get(name, ()):
            frontier |= _refs([node], aliases, modules) - reached
    return defs, reached


def _unreached(defs, reached) -> list[str]:
    codecs = {f"operators.{m}" for m in _codec_modules()}
    return sorted(
        q for q in defs
        if q.rsplit(".", 1)[0] not in codecs and q.rsplit(".", 1)[1] not in reached
    )


def test_every_package_definition_is_reached():
    names = {q.rsplit(".", 1)[1] for q in TEST_REFERENCES}
    defs, reached = _reach(names)
    missed = [q for q in _unreached(defs, reached) if q not in TEST_REFERENCES]
    assert missed == [], (
        f"{len(missed)} package definitions only tests reach: delete them, route "
        "a job or registry query through them, or name the test they serve in "
        "TEST_REFERENCES:\n  " + "\n  ".join(missed)
    )


def test_test_references_are_live():
    defs, reached = _reach()
    unreached = set(_unreached(defs, reached))
    for qual, where in TEST_REFERENCES.items():
        mod, name = qual.rsplit(".", 1)
        assert qual in defs, f"{qual}: no such package definition"
        assert qual in unreached, (
            f"{qual} is reached without its test; drop its TEST_REFERENCES entry"
        )
        file, test = where.split("::")
        tree = _parse(ROOT / file)
        fn = next(
            (n for n in tree.body
             if isinstance(n, ast.FunctionDef) and n.name == test),
            None,
        )
        assert fn is not None, f"{qual}: {where} does not exist"
        imported = {
            a.asname or a.name
            for n in [*tree.body, *ast.walk(fn)]
            if isinstance(n, ast.ImportFrom) and n.module == f"dstlr_spark.{mod}"
            for a in n.names if a.name == name
        }
        used = {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)}
        assert imported & used, f"{qual}: {where} does not import and use it"


# ---------------------------------------------------------------------------
# Parameter reach: a defaulted parameter that no root call binds is an
# option with no caller. Delete it (keep the value), or make it a module
# constant the test monkeypatches; a test-data seam names its test here.

#: defaulted parameters only tests bind, each with the test that binds it
TEST_SEAMS = {
    "session.default_driver_mem.meminfo": (
        "tests/test_session.py::test_driver_heap_fits_the_host"
    ),
    "sources.transcripts.generate_transcripts.seed": (
        "tests/test_assembly.py::test_generated_corpus_deterministic"
    ),
    "sources.transcripts.generate_transcripts.include_pathological": (
        "tests/test_golden.py::test_smoke_corpus_precision_recall"
    ),
}


def _params(node: ast.AST) -> tuple[list[str], set[str]]:
    """(positional names, defaulted names) of a function, or of a
    class's ``__init__`` without its ``self``."""
    if isinstance(node, ast.ClassDef):
        init = next(
            (n for n in node.body
             if isinstance(n, ast.FunctionDef) and n.name == "__init__"),
            None,
        )
        if init is None:
            return [], set()
        pos, defaulted = _params(init)
        return pos[1:], defaulted
    a = node.args
    pos = [x.arg for x in [*a.posonlyargs, *a.args]]
    defaulted = set(pos[len(pos) - len(a.defaults):] if a.defaults else [])
    defaulted |= {x.arg for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None}
    return pos, defaulted


class _Binds(ast.NodeVisitor):
    """Parameters the calls in a piece of code bind, by callee name. A
    call binds by position and keyword; ``*args``/``**kwargs`` binds every
    parameter, and so does a use of the name other than as a callee (a
    dict value, a callback). Annotations and docstrings are skipped."""

    ALL = "*"

    def __init__(self, aliases: dict[str, str], params):
        self.aliases = aliases
        self.modules: set[str] = set()  # package-module names of the file visited
        self.params = params  # name -> [positional names of each definition]
        self.bound: dict[str, set[str]] = {}

    def _callee(self, node: ast.AST) -> str | None:
        if isinstance(node, ast.Name):
            name = node.id
        elif isinstance(node, ast.Attribute):
            receiver = node.value
            while isinstance(receiver, ast.Attribute):
                receiver = receiver.value
            if not (isinstance(receiver, ast.Name) and receiver.id in self.modules):
                return None
            name = node.attr
        else:
            return None
        name = self.aliases.get(name, name)
        return name if name in self.params else None

    def _bind(self, name: str, params) -> None:
        self.bound.setdefault(name, set()).update(params)

    def visit_Call(self, node: ast.Call) -> None:
        name = self._callee(node.func)
        if name is not None:
            if any(isinstance(a, ast.Starred) for a in node.args) or any(
                k.arg is None for k in node.keywords
            ):
                self._bind(name, {self.ALL})
            else:
                for pos in self.params[name]:
                    self._bind(name, pos[: len(node.args)])
                self._bind(name, {k.arg for k in node.keywords})
            if isinstance(node.func, ast.Attribute):
                self.visit(node.func.value)
        else:
            self.visit(node.func)
        for a in [*node.args, *node.keywords]:
            self.visit(a)

    def visit_Name(self, node: ast.Name) -> None:
        name = self._callee(node)
        if name is not None:
            self._bind(name, {self.ALL})

    def visit_Attribute(self, node: ast.Attribute) -> None:
        name = self._callee(node)
        if name is not None:
            self._bind(name, {self.ALL})
        else:
            self.generic_visit(node)

    def visit_arg(self, node: ast.arg) -> None:
        pass  # annotations

    def visit_AnnAssign(self, node: ast.AnnAssign) -> None:
        if node.value is not None:
            self.visit(node.value)

    def _body(self, body: list[ast.stmt]) -> None:
        for i, stmt in enumerate(body):
            if not (i == 0 and _is_docstring(stmt)):
                self.visit(stmt)

    def visit_FunctionDef(self, node) -> None:
        for d in [*node.decorator_list, *node.args.defaults, *node.args.kw_defaults]:
            if d is not None:
                self.visit(d)
        self._body(node.body)

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_ClassDef(self, node: ast.ClassDef) -> None:
        for d in [*node.decorator_list, *node.bases, *node.keywords]:
            self.visit(d)
        self._body(node.body)


def _unbound_params() -> list[str]:
    """``module.func.param`` for every defaulted parameter of a top-level
    function or class ``__init__`` (codec modules and TEST_REFERENCES
    aside) that no call in the project's roots binds. A definition that
    only a TEST_REFERENCES entry reaches is not a root."""
    defs, reached = _reach()
    codecs = {f"operators.{m}" for m in _codec_modules()}
    trees, outside_trees, aliases = _sources()

    params: dict[str, list] = {}
    for qual, node in defs.items():
        params.setdefault(qual.rsplit(".", 1)[1], []).append(_params(node)[0])

    v = _Binds(aliases, params)
    for tree in trees.values():
        v.modules = _package_modules(tree)
        for n in tree.body:
            if not isinstance(
                n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or n.name in reached:
                v.visit(n)
    for tree in outside_trees:
        v.modules = _package_modules(tree)
        v.visit(tree)

    missed = []
    for qual, node in defs.items():
        mod, name = qual.rsplit(".", 1)
        if mod in codecs or qual in TEST_REFERENCES:
            continue
        got = v.bound.get(name, set())
        if _Binds.ALL in got:
            continue
        _, defaulted = _params(node)
        missed += [f"{qual}.{p}" for p in sorted(defaulted - got)]
    return sorted(missed)


def test_every_defaulted_parameter_is_bound():
    missed = [q for q in _unbound_params() if q not in TEST_SEAMS]
    assert missed == [], (
        f"{len(missed)} defaulted parameters only tests set: delete the "
        "parameter and keep its value, make it a module constant the test "
        "monkeypatches, or name the test it serves in TEST_SEAMS:\n  "
        + "\n  ".join(missed)
    )


def test_test_seams_are_live():
    unbound = set(_unbound_params())
    defs, _ = _reach()
    for qual, where in TEST_SEAMS.items():
        func_qual, param = qual.rsplit(".", 1)
        name = func_qual.rsplit(".", 1)[1]
        assert qual in unbound, (
            f"{qual} is bound outside the tests, or is not a defaulted "
            "parameter; drop its TEST_SEAMS entry"
        )
        file, test = where.split("::")
        tree = _parse(ROOT / file)
        fn = next(
            (n for n in tree.body
             if isinstance(n, ast.FunctionDef) and n.name == test),
            None,
        )
        assert fn is not None, f"{qual}: {where} does not exist"
        pos, _ = _params(defs[func_qual])
        sets = False
        for call in ast.walk(fn):
            if not isinstance(call, ast.Call):
                continue
            callee = getattr(call.func, "id", getattr(call.func, "attr", None))
            if callee != name:
                continue
            sets |= any(k.arg in (param, None) for k in call.keywords) or (
                param in pos and pos.index(param) < len(call.args)
            )
        assert sets, f"{qual}: {where} does not set it"
