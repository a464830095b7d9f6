"""Spark-free check that every kept script still imports names that
exist in the package, so a rename cannot silently break a script that
no test runs."""

import ast
import importlib
import importlib.util
import pathlib

import pytest

SCRIPTS = sorted((pathlib.Path(__file__).parents[1] / "scripts").glob("*.py"))
PACKAGE = "web_search_engine_spark"


def _package_imports(path: pathlib.Path) -> list[tuple[str, str | None]]:
    """(module, name) for each ``from web_search_engine_spark... import
    name`` and (module, None) for each ``import web_search_engine_spark...``."""
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module == PACKAGE or (node.module or "").startswith(PACKAGE + ".")
        ):
            out.extend((node.module, a.name) for a in node.names)
        elif isinstance(node, ast.Import):
            out.extend(
                (a.name, None) for a in node.names
                if a.name == PACKAGE or a.name.startswith(PACKAGE + ".")
            )
    return out


def test_scripts_are_found():
    assert SCRIPTS


def _is_submodule(module: str, name: str) -> bool:
    # a submodule imported by name need not be an attribute yet
    try:
        return importlib.util.find_spec(f"{module}.{name}") is not None
    except ModuleNotFoundError:  # ``module`` is not a package
        return False


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_package_imports_exist(path):
    for module, name in _package_imports(path):
        mod = importlib.import_module(module)
        if name is not None:
            assert hasattr(mod, name) or _is_submodule(module, name), (
                f"{path.name}: {module} has no {name!r}"
            )
