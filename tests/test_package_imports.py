"""Every import statement in the package resolves.

Most imports here are function-local (lazy), so importing a module does
not execute them: a deleted or renamed module would only fail when the
function first runs. This walks the syntax tree of every package file,
function bodies included, and checks each imported module (and each name
taken from it) without calling any of the functions."""

import ast
import importlib
import importlib.util
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
SOURCES = sorted((REPO / "rdf_tabular_spark").rglob("*.py")) + \
    [REPO / "__spark_entry__.py"]


def _imports(path: pathlib.Path):
    """(line, module, names) for each import; relative names resolved."""
    # the package a relative import starts from: the file's directory,
    # for a module and for an __init__.py alike
    package = ".".join(path.relative_to(REPO).parent.parts)
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name, []
        elif isinstance(node, ast.ImportFrom):
            if node.module == "__future__":
                continue
            module = node.module or ""
            if node.level:
                module = importlib.util.resolve_name(
                    "." * node.level + module, package)
            yield node.lineno, module, [a.name for a in node.names]


def _found(module: str) -> bool:
    try:
        return importlib.util.find_spec(module) is not None
    except ModuleNotFoundError:  # a parent is missing or not a package
        return False


def _missing(module: str, names: list[str]) -> list[str]:
    """The module, or the names taken from it, that cannot be found: a
    name is an attribute of the module or one of its submodules."""
    if not _found(module):
        return [module]
    try:
        mod = importlib.import_module(module)
    except ImportError as exc:  # the module's own imports dangle
        return [f"{module} ({exc})"]
    return [f"{module}.{name}" for name in names
            if name != "*" and not hasattr(mod, name)
            and not _found(f"{module}.{name}")]


def test_sources_are_found():
    assert len(SOURCES) > 50
    assert all(p.exists() for p in SOURCES)


def test_every_import_resolves():
    dangling = []
    for path in SOURCES:
        for line, module, names in _imports(path):
            for miss in _missing(module, names):
                dangling.append(f"{path.relative_to(REPO)}:{line}: {miss}")
    assert not dangling, "imports that do not resolve:\n" + "\n".join(dangling)
