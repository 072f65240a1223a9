"""Package-wide guards: each operator has one implementation in the library.
Cross-checks compare against oracle SQL or a test-local reference, so no
``document_parser_spark`` function may be a ``*_twin`` or take an ``impl``
or ``verify`` selector between alternative paths."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "document_parser_spark"

#: parameter names that select between twin implementations of one operator
SELECTOR_PARAMS = {"impl", "verify"}


def _functions():
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield f"{path.relative_to(PACKAGE.parent)}:{node.lineno} {node.name}", node


def test_no_twin_functions_in_package():
    twins = [where for where, node in _functions() if node.name.endswith("_twin")]
    assert not twins, f"library twins (move the cross-check into tests/): {twins}"


def test_no_implementation_selectors_in_package():
    selectors = []
    for where, node in _functions():
        a = node.args
        params = a.posonlyargs + a.args + a.kwonlyargs + [p for p in (a.vararg, a.kwarg) if p]
        selectors += [f"{where}({p.arg}=)" for p in params if p.arg in SELECTOR_PARAMS]
    assert not selectors, (
        f"implementation selectors (keep one path; cross-check in tests/): {selectors}"
    )
