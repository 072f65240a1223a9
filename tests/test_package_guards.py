"""Package-wide guard: each operator has one implementation in the library.
Cross-checks compare against oracle SQL or a test-local reference, so no
``document_parser_spark`` function may be a ``*_twin``."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "document_parser_spark"


def test_no_twin_functions_in_package():
    twins = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        twins += [
            f"{path.relative_to(PACKAGE.parent)}:{node.lineno} {node.name}"
            for node in ast.walk(tree)
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and node.name.endswith("_twin")
        ]
    assert not twins, f"library twins (move the cross-check into tests/): {twins}"
