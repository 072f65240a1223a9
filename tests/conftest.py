import ast
import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REFERENCE_DIR = "/root/reference"


def load_reference_functions(filename: str, names: list[str]) -> dict:
    """Extract named top-level functions from a reference source file via AST
    and exec ONLY those (the reference modules import heavyweight/unavailable
    libs — marker, camelot, reportlab — at module scope, so a plain import is
    impossible).  Used strictly as a test oracle; no reference code ships in
    the package.  Skips the calling test when the reference checkout is
    absent."""
    import json
    import re
    from typing import Any, Dict, List, Optional, Tuple, Union

    path = os.path.join(REFERENCE_DIR, filename)
    if not os.path.isfile(path):
        pytest.skip(f"reference source {path} is absent", allow_module_level=True)
    with open(path, encoding="utf-8") as f:
        source = f.read()
    tree = ast.parse(source)
    wanted = [
        node
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and node.name in names
    ]
    missing = set(names) - {n.name for n in wanted}
    if missing:
        raise AssertionError(f"reference {filename} lacks {missing}")
    module = ast.Module(body=wanted, type_ignores=[])
    namespace = {
        "re": re,
        "json": json,
        "List": List,
        "Dict": Dict,
        "Any": Any,
        "Optional": Optional,
        "Tuple": Tuple,
        "Union": Union,
        "dataclass": __import__("dataclasses").dataclass,
        "Enum": __import__("enum").Enum,
    }
    exec(compile(module, path, "exec"), namespace)
    return namespace


def run_oracle_sql(name: str, documents: list) -> list[tuple]:
    """Rows of ``__spark_entry__.oracle_sql()[name]`` run in DuckDB over a
    ``documents`` table of (doc_id, text) rows — the independent reference
    for operators the contract queries cover."""
    import duckdb
    import pandas as pd

    import __spark_entry__ as entrymod

    frame = pd.DataFrame(documents, columns=["doc_id", "text"])
    con = duckdb.connect()
    try:
        con.register("documents", frame.astype({"doc_id": "int64", "text": "object"}))
        return con.execute(entrymod.oracle_sql()[name]).fetchall()
    finally:
        con.close()


@pytest.fixture(scope="session")
def spark():
    """Session-wide local SparkSession matching the driver's run shape."""
    from document_parser_spark.sources.session import get_spark

    spark = get_spark(app_name="tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "4")))
    yield spark
