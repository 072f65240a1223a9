"""Package-wide guards: each operator has one implementation in the library.
Cross-checks compare against oracle SQL or a test-local reference, so no
``document_parser_spark`` function may be a ``*_twin`` or take an ``impl``
or ``verify`` selector between alternative paths, parse results are built
in one place only, and the Python word split is written once."""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "document_parser_spark"

#: parameter names that select between twin implementations of one operator
SELECTOR_PARAMS = {"impl", "verify"}

#: the parse-result schema names, and the only modules that may use them:
#: where they are declared and the one Arrow builder of parse results
PARSE_SCHEMA_NAMES = {"PARSE_RESULT", "SPANS"}
PARSE_BUILDER_MODULES = {"schemas.py", "operators/extract.py"}

#: source text of the Java ``\s`` class, spelled out only by the one
#: Python tokenizer (``operators.text._java_words``)
JAVA_WS_LITERAL = r"\x0b\f\r"
TOKENIZER_MODULE = "operators/text.py"


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


def test_parse_results_built_in_one_place():
    offenders = []
    for path in sorted(PACKAGE.rglob("*.py")):
        module = path.relative_to(PACKAGE).as_posix()
        if module in PARSE_BUILDER_MODULES:
            continue
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            names = (
                [node.id] if isinstance(node, ast.Name)
                else [node.attr] if isinstance(node, ast.Attribute)
                else [a.name for a in node.names] if isinstance(node, ast.ImportFrom)
                else []
            )
            offenders += [f"{module}:{node.lineno} {n}" for n in names if n in PARSE_SCHEMA_NAMES]
    assert not offenders, (
        f"parse results have one builder (operators.extract._parse_arrow): {offenders}"
    )


def test_java_whitespace_class_written_once():
    modules = [
        path.relative_to(PACKAGE).as_posix()
        for path in sorted(PACKAGE.rglob("*.py"))
        if JAVA_WS_LITERAL in path.read_text(encoding="utf-8")
    ]
    assert modules == [TOKENIZER_MODULE], (
        f"split words with operators.text._java_words, not a copy of its class: {modules}"
    )


def test_no_global_statements_in_operators():
    offenders = []
    for path in sorted((PACKAGE / "operators").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
            if isinstance(node, ast.Global):
                offenders.append(f"{path.relative_to(PACKAGE).as_posix()}:{node.lineno} {node.names}")
    assert not offenders, (
        "operators build their UDFs at module level or in lru_cache'd factories, "
        f"never in lazily assigned globals: {offenders}"
    )
