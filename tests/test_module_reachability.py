"""Every engine module is reachable from an entry point.

The import statements of the entry points below are walked with
``ast``: nothing is imported and no Spark session starts.  A module of
``courlan_spark`` that no entry point reaches, directly or through
other modules, fails the test unless ``ALLOWED`` names it with a
reason.  Imports inside functions count; imports built from strings
do not.  Whether each def of a reached module is used is not checked.
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

ALLOWED = {
    "courlan_spark.functions.html_text":
        "HTML-to-text fallback for pages without a text column; no entry point reads HTML yet",
    "courlan_spark.operators.robots":
        "robots.txt rule tables for the crawl frontier; no entry point filters by robots.txt yet",
    "courlan_spark.streaming.incremental":
        "the streamed near-dup path (start_incremental_cluster_stream); only tests start it",
    "courlan_spark.streaming.ingest":
        "the streaming frontier ingest; only tests start it",
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
    with open(os.path.join(REPO, rel)) as fh:
        tree = ast.parse(fh.read(), rel)
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


def _reached() -> set[str]:
    todo, seen = list(ROOTS), set(ROOTS)
    while todo:
        for name in _imported(todo.pop()):
            rel = _path(name)
            if rel is not None and rel not in seen:
                seen.add(rel)
                todo.append(rel)
    return {_name(rel) for rel in seen if rel.startswith("courlan_spark" + os.sep)}


def _engine_modules() -> set[str]:
    return {
        _name(os.path.relpath(p, REPO))
        for p in glob.glob(os.path.join(REPO, "courlan_spark", "**", "*.py"), recursive=True)
    }


def test_every_engine_module_is_reached_or_allowed():
    reached, modules = _reached(), _engine_modules()
    assert "courlan_spark.operators.dedup" in reached
    unreached = sorted(modules - reached - set(ALLOWED))
    assert not unreached, f"no entry point imports {unreached}; delete them or allow them with a reason"
    stale = sorted(set(ALLOWED) - (modules - reached))
    assert not stale, f"ALLOWED names modules that are reached or gone: {stale}"
