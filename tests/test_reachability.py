"""Every package module is reached from a public entry point.

Walks the package's intra-package imports with ``ast`` (imports inside
functions included) from ``__init__``, ``cli``, ``mcp_server`` and ``api``,
and from the query contracts in ``__spark_entry__.py``. A module nothing
imports is dead weight: delete it, or wire it to an entry point. No Spark
needed.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "oaxaca_blinder_rs_spark"
STARTS = [PKG, f"{PKG}.cli", f"{PKG}.mcp_server", f"{PKG}.api"]
CONTRACTS = os.path.join(ROOT, "__spark_entry__.py")


def package_modules(pkg_dir: str) -> dict[str, str]:
    mods = {}
    for dirpath, _, files in os.walk(pkg_dir):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                name = os.path.relpath(path, os.path.dirname(pkg_dir))[:-3].replace(os.sep, ".")
                mods[name.removesuffix(".__init__")] = path
    return mods


def import_targets(path: str, module: str) -> set[str]:
    """Dotted names ``path`` imports (``from a import b`` yields ``a`` and
    ``a.b``), with relative imports resolved against ``module``."""
    package = module if path.endswith("__init__.py") else module.rpartition(".")[0]
    out = set()
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.ImportFrom):
            if node.level:
                parts = package.split(".")
                base = ".".join(parts[: len(parts) - node.level + 1] + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
        elif isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
    return out


def imported_modules(path: str, module: str, mods: dict[str, str]) -> set[str]:
    """Package modules ``path`` imports. Parent packages count as imported."""
    out = {name for name in import_targets(path, module) if name in mods}
    for name in list(out):
        parts = name.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts)) if ".".join(parts[:i]) in mods)
    return out


def reachable(mods: dict[str, str], starts: list[str]) -> set[str]:
    seen, todo = set(), list(starts)
    while todo:
        m = todo.pop()
        if m not in seen:
            seen.add(m)
            todo.extend(imported_modules(mods[m], m, mods) - seen)
    return seen


def test_every_module_is_reachable_from_an_entry_point():
    mods = package_modules(os.path.join(ROOT, PKG))
    starts = STARTS + sorted(imported_modules(CONTRACTS, "__spark_entry__", mods))
    orphans = sorted(set(mods) - reachable(mods, starts))
    assert orphans == [], f"modules no entry point imports: {orphans}"


def test_contracts_import_only_existing_modules():
    """A contract left behind by a deleted module fails here, not at the
    first query run."""
    mods = package_modules(os.path.join(ROOT, PKG))
    # `from pkg.mod import name` lists `pkg.mod.name`; only the module
    # part has to exist
    missing = sorted(
        name
        for name in import_targets(CONTRACTS, "__spark_entry__")
        if name.startswith(f"{PKG}.") and name not in mods and name.rpartition(".")[0] not in mods
    )
    assert missing == [], f"contracts import missing modules: {missing}"


PAPER_PATH = [
    f"{PKG}.{m}" for m in ("builder", "quantile_builder", "api", "mcp_server", "sources.csv")
] + [
    f"{PKG}.operators.{m}" for m in (
        "engine_ops", "scan", "bootstrap", "heckman", "glm", "akm", "matching", "dfl", "rif",
        "kde", "budget", "jmp", "decomposition", "quantile_regression",
    )
]
LITERALS = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp, ast.SetComp)


def literal_names(tree: ast.AST) -> set[str]:
    """Names the module binds, anywhere, to a list/tuple literal or a
    comprehension (``rows = [...]``, ``offs, n = [], 0``)."""
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            for t in node.targets:
                pairs = (
                    zip(t.elts, node.value.elts)
                    if isinstance(t, ast.Tuple) and isinstance(node.value, ast.Tuple)
                    else [(t, node.value)]
                )
                out.update(tg.id for tg, v in pairs if isinstance(tg, ast.Name) and isinstance(v, LITERALS))
    return out


def test_no_python_list_tables_on_the_paper_path():
    """``createDataFrame`` on Python rows builds a pickled Python RDD, which
    starts Python worker tasks in every job that reads it. Tables built on
    the driver go through ``scan.local_table`` (an Arrow LocalRelation)."""
    mods = package_modules(os.path.join(ROOT, PKG))
    paths = PAPER_PATH + sorted(m for m in mods if m.startswith(f"{PKG}.functions."))
    assert set(paths) <= set(mods), sorted(set(paths) - set(mods))
    offenders = []
    for m in paths:
        tree = ast.parse(open(mods[m]).read())
        names = literal_names(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "createDataFrame":
                data = node.args[0] if node.args else next((k.value for k in node.keywords if k.arg == "data"), None)
                if isinstance(data, LITERALS) or (isinstance(data, ast.Name) and data.id in names):
                    offenders.append(f"{m}:{node.lineno}")
    assert offenders == [], f"createDataFrame on Python rows: {offenders}"
