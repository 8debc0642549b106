"""Every engine module, and every top-level binding in it, is reached.

The entry points below are walked with ``ast``: nothing is imported
and no Spark session starts.  A module of ``courlan_spark`` that no
entry point reaches, directly or through other modules, fails.
Imports inside functions count; imports built from strings do not.

A top-level binding of a reached module fails unless it is used:
- a ``def`` or ``class``: another reached file (the entry points
  included) names it, as a name, an attribute, an imported name or a
  string constant (which covers ``QUERIES``-style lookups); or its own
  module names it outside its own body (a call, a registry entry, an
  assignment);
- a constant (an assignment target): another reached file names it
  as above, or its own module loads it anywhere.  Dunder names
  (``__all__``, ``__version__``) are exempt: Python and packaging
  tools read them;
- an import: its own module loads the bound name.  Another file
  naming it does not count, since a re-exported name is not used by
  its importer.  ``__init__.py`` re-exports and ``from __future__``
  are exempt.
``ALLOWED_DEFS`` may name a def or constant with a reason; an entry
that names something used or gone fails too.
"""

import ast
import glob
import os

REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), os.pardir))
ROOTS = [
    "bench.py",
    "__spark_entry__.py",
    *sorted(os.path.relpath(p, REPO) for p in glob.glob(os.path.join(REPO, "layerbench", "*.py"))),
    "courlan_spark/cli.py",
    "courlan_spark/pipeline_cli.py",
    "courlan_spark/plans/catalog.py",
]
# where a bare ``import name`` of a script resolves: the entry points
# put these directories on sys.path
SCRIPT_DIRS = ("", "layerbench", "tools")

_URLSTORE = "mirrors courlan's UrlStore {} (SURVEY.md §1), the paper's frontier surface"
ALLOWED_DEFS = {
    **{
        f"courlan_spark.operators.frontier.{name}": _URLSTORE.format(method)
        for name, method in {
            "merge_new_urls": "add_urls",
            "mark_visited": "get_url (its visit marking)",
            "reset_frontier": "reset",
            "known_domains": "get_known_domains",
            "unvisited_websites_number": "unvisited_websites_number",
            "total_url_number": "total_url_number",
            "is_exhausted_domain": "is_exhausted_domain",
            "find_known_urls": "find_known_urls",
            "find_unvisited_urls": "find_unvisited_urls",
            "dump_urls": "dump_urls",
            "all_visited_counts": "get_all_counts",
            "is_done": "done flag",
            "download_threshold_reached": "download_threshold_reached",
            "save_frontier": "write",
            "load_frontier": "load_store (a module function)",
        }.items()
    },
    "courlan_spark.functions.native.basic_filter_col":
        "native Column form of courlan's filters.basic_filter; tests pin it to the scalar",
    "courlan_spark.functions.hashing.hamming64":
        "the SimHash distance the tests take as referent",
    "courlan_spark.operators.similarity.brute_force_topk":
        "exact top-k, the referent the ANN tests measure recall against",
    "courlan_spark.operators.codecs.encode_bmp":
        "builds the BMP fixtures of the decode-path tests",
}


def _name(rel: str) -> str:
    "The module name an entry-point or package file is imported by."
    if not rel.startswith("courlan_spark" + os.sep):
        return os.path.splitext(os.path.basename(rel))[0]
    parts = os.path.splitext(rel)[0].split(os.sep)
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _path(name: str) -> str | None:
    if name == "courlan_spark" or name.startswith("courlan_spark."):
        base = os.path.join(*name.split("."))
        candidates = [base + ".py", os.path.join(base, "__init__.py")]
    else:
        candidates = [os.path.join(d, name + ".py") for d in SCRIPT_DIRS]
    for rel in candidates:
        if os.path.isfile(os.path.join(REPO, rel)):
            return rel
    return None


def _imported(rel: str) -> set[str]:
    "Every module name ``rel``'s import statements may load, parents included."
    tree = _parse(rel)
    name = _name(rel)
    package = name if rel.endswith("__init__.py") else name.rpartition(".")[0]
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = package.split(".")
                parts = parts[: len(parts) - (node.level - 1)]
                base = ".".join(parts + ([node.module] if node.module else []))
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    parents = {".".join(n.split(".")[:i]) for n in names for i in range(1, n.count(".") + 1)}
    return names | parents


def _parse(rel: str) -> ast.Module:
    with open(os.path.join(REPO, rel)) as fh:
        return ast.parse(fh.read(), rel)


def _reached_files() -> set[str]:
    "The roots and every file their imports reach."
    todo, seen = list(ROOTS), set(ROOTS)
    while todo:
        for name in _imported(todo.pop()):
            rel = _path(name)
            if rel is not None and rel not in seen:
                seen.add(rel)
                todo.append(rel)
    return seen


def _is_engine(rel: str) -> bool:
    return rel.startswith("courlan_spark" + os.sep)


def _reached() -> set[str]:
    return {_name(rel) for rel in _reached_files() if _is_engine(rel)}


def _engine_modules() -> set[str]:
    return {
        _name(os.path.relpath(p, REPO))
        for p in glob.glob(os.path.join(REPO, "courlan_spark", "**", "*.py"), recursive=True)
    }


def test_every_engine_module_is_reached_or_allowed():
    reached = _reached()
    assert "courlan_spark.operators.dedup" in reached
    unreached = sorted(_engine_modules() - reached)
    assert not unreached, f"no entry point imports {unreached}; delete them"


def _named(tree: ast.AST) -> set[str]:
    "Every name ``tree`` spells: names, attributes, imported names, string constants."
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rpartition(".")[2])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            names.add(node.value)
    return names


def _unused(files: set[str]) -> set[str]:
    "Top-level defs, constants and imports of reached engine modules that nothing uses."
    trees = {rel: _parse(rel) for rel in files}
    named = {rel: _named(tree) for rel, tree in trees.items()}
    unused = set()
    for rel, tree in trees.items():
        if not _is_engine(rel):
            continue
        elsewhere = set().union(*(names for other, names in named.items() if other != rel))
        loads = [
            {n.id for n in ast.walk(stmt) if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)}
            for stmt in tree.body
        ]
        anywhere = set().union(*loads)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                own = set().union(*(ids for stmt, ids in zip(tree.body, loads) if stmt is not node))
                dead = [node.name] if node.name not in elsewhere | own else []
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                bound = {
                    n.id for t in targets for n in ast.walk(t)
                    if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
                }
                dead = {n for n in bound - elsewhere - anywhere if not n.startswith("__")}
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                if rel.endswith("__init__.py") or getattr(node, "module", None) == "__future__":
                    continue
                bound = {alias.asname or alias.name.partition(".")[0] for alias in node.names}
                dead = bound - anywhere
            else:
                continue
            unused.update(f"{_name(rel)}.{name}" for name in dead)
    return unused


def test_every_top_level_def_of_a_reached_module_is_used_or_allowed():
    unused = _unused(_reached_files())
    assert "courlan_spark.operators.frontier.is_done" in unused
    unreasoned = sorted(k for k, reason in ALLOWED_DEFS.items() if not reason.strip())
    assert not unreasoned, f"ALLOWED_DEFS entries need a reason: {unreasoned}"
    unallowed = sorted(unused - set(ALLOWED_DEFS))
    assert not unallowed, f"nothing reached uses {unallowed}; delete them or allow them with a reason"
    stale = sorted(set(ALLOWED_DEFS) - unused)
    assert not stale, f"ALLOWED_DEFS names bindings that are used or gone: {stale}"
