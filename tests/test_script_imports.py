"""Every `from horus_spark... import name` in the code outside the
package (tools/, examples/, perfbench/, tests/, __spark_entry__.py),
including imports inside functions, names something that exists. A script
that imports a deleted (often private) name would otherwise fail only when
someone runs it, and a test module only as a collection error in the full
suite. No Spark session."""

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCRIPTS = [ROOT / "__spark_entry__.py"] + sorted(
    p
    for d in ("tools", "examples", "perfbench", "tests")
    for p in (ROOT / d).rglob("*.py")
)


def _horus_imports():
    for path in SCRIPTS:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ImportFrom) and node.level == 0:
                if (node.module or "").split(".")[0] == "horus_spark":
                    for alias in node.names:
                        yield path, node.module, alias.name
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.split(".")[0] == "horus_spark":
                        yield path, alias.name, None


def _resolves(module, name):
    if importlib.util.find_spec(module) is None:
        return False
    mod = importlib.import_module(module)
    if name is None or name == "*" or hasattr(mod, name):
        return True
    # a submodule not yet imported by its package
    return hasattr(mod, "__path__") and (
        importlib.util.find_spec(f"{module}.{name}") is not None
    )


def test_script_imports_from_horus_spark_resolve():
    found = list(_horus_imports())
    assert len(found) > 100  # __spark_entry__.py alone imports ~200 names
    missing = [
        f"{path.relative_to(ROOT)}: {module} {name}"
        for path, module, name in found
        if not _resolves(module, name)
    ]
    assert not missing, missing
