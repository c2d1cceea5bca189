"""No helpers that nothing calls: every top-level function and class of
the package, and every non-dunder method of its classes, is referenced
somewhere in the repository's Python files (outside the frozen
``plans/`` snapshots) — by a name, an attribute or an import. Pure AST
walk, no Spark."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "enhydris_autoprocess_spark"


def _python_files():
    for path in ROOT.rglob("*.py"):
        rel = path.relative_to(ROOT).parts
        if rel[0] == "plans" or any(p.startswith(".") for p in rel):
            continue
        yield path


def _referenced_names() -> set[str]:
    names: set[str] = set()
    for path in _python_files():
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_every_top_level_definition_is_referenced():
    referenced = _referenced_names()
    unused = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) and node.name not in referenced:
                unused.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not unused, "defined but never referenced:\n" + "\n".join(unused)


def test_every_method_is_referenced():
    referenced = _referenced_names()
    unused = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        for cls in ast.walk(tree):
            if not isinstance(cls, ast.ClassDef):
                continue
            for node in cls.body:
                if (
                    isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not (node.name.startswith("__") and node.name.endswith("__"))
                    and node.name not in referenced
                ):
                    unused.append(
                        f"{path.relative_to(ROOT)}:{node.lineno} "
                        f"{cls.name}.{node.name}"
                    )
    assert not unused, "methods never referenced:\n" + "\n".join(unused)
