"""The engine package ships to every executor (``--py-files``).  Oracle
data — pinned twin goldens and codebook artifacts — lives in the
top-level ``goldens`` package, which only the driver-side correctness
gate (``__spark_entry__.py``) reads."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "phenoqc_spark"


def _imported_modules(path):
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            yield node.module


def test_engine_package_holds_no_oracle_data():
    modules = sorted(PKG.rglob("*.py"))
    assert modules
    oracle_named = [
        str(p.relative_to(PKG))
        for p in modules
        if p.stem.endswith(("_golden", "_codebook"))
    ]
    assert not oracle_named, oracle_named
    importers = [
        str(p.relative_to(PKG))
        for p in modules
        if any(m == "goldens" or m.startswith("goldens.") for m in _imported_modules(p))
    ]
    assert not importers, importers
