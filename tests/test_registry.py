"""Gate registry contract, checked without a Spark session.

``queries()`` holds the operators themselves (no recording or forwarding
layer), every entry has a DuckDB twin, ``bench_queries()`` keeps the
names and order that perfbench times, every Python stage of the
package runs through the one driver in ``operators/grouped.py``, no
function body is written twice, and every module is imported by
non-test code.
"""

from __future__ import annotations

import ast
import hashlib
from pathlib import Path

import __spark_entry__ as entry
from paddleocr_spark.functions import bench_queries, sketches


def _md5(names) -> str:
    return hashlib.md5("\n".join(names).encode()).hexdigest()


def test_every_query_has_a_twin():
    q, o = entry.queries(), entry.oracle_sql()
    assert len(q) == 171
    assert set(q) == set(o)


def test_registry_holds_the_operator_itself():
    assert entry.queries()["qdigest_quantiles"] is sketches.qdigest_quantiles


def test_bench_names_and_order_are_pinned():
    names = list(bench_queries())
    assert len(names) == 58
    assert _md5(names) == "dd6c0dd091046c6c7cbeccc8a476f326"


def test_bench_times_the_registry_operator():
    assert bench_queries()["qdigest_quantiles"] is sketches.qdigest_quantiles


def test_python_stages_run_through_the_grouped_driver():
    """``.mapInPandas(``/``.applyInPandas(`` appear only in
    ``read_lmdb_dataset``'s fetch, which keeps its environments open
    across batches and closes them in ``finally``
    (``applyInPandasWithState`` is a different call)."""
    pkg = Path(__file__).resolve().parent.parent / "paddleocr_spark"
    found = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        for top in tree.body:
            for node in ast.walk(top):
                if (isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in ("mapInPandas",
                                               "applyInPandas")):
                    found.append((path.relative_to(pkg).as_posix(),
                                  getattr(top, "name", None),
                                  node.func.attr))
    assert found == [("sources/lmdbfile.py", "read_lmdb_dataset",
                      "mapInPandas")]


def test_no_duplicate_function_bodies():
    """No two functions (nested ones included) under ``paddleocr_spark/``
    share a body of two or more statements, compared as ``ast.unparse``
    text with the docstring stripped: a helper the reference repeats
    verbatim across its ops is kept once and imported where reused."""
    pkg = Path(__file__).resolve().parent.parent / "paddleocr_spark"
    seen: dict[str, list[str]] = {}
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            body = node.body
            if (isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)
                    and isinstance(body[0].value.value, str)):
                body = body[1:]
            if len(body) < 2:
                continue
            key = "\n".join(ast.unparse(s) for s in body)
            seen.setdefault(key, []).append(
                f"{path.relative_to(pkg).as_posix()}:{node.name}")
    assert [v for v in seen.values() if len(v) > 1] == []


#: Modules no non-test code imports: the two Tier-1 entry points, which
#: run as scripts (``spark-submit paddleocr_spark/__main__.py``,
#: ``python -m paddleocr_spark.package``), and ``streaming.windowed``,
#: kept with ``tests/test_streaming_window.py`` until that test retires
#: (ROADMAP item 8).
_ALLOWED_UNIMPORTED = {"__main__", "package", "streaming.windowed"}


def test_every_module_is_imported():
    """Every module under ``paddleocr_spark/`` is imported, statically,
    by the package itself, ``tools/``, ``perfbench/`` or
    ``__spark_entry__.py``; importing a submodule counts for its parent
    packages. A module that only tests import is code no run reaches."""
    root = Path(__file__).resolve().parent.parent
    pkg = root / "paddleocr_spark"

    def dotted(path: Path) -> str:
        parts = path.relative_to(root).with_suffix("").parts
        return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)

    sources = [root / "__spark_entry__.py", *sorted(pkg.rglob("*.py")),
               *sorted((root / "tools").rglob("*.py")),
               *sorted((root / "perfbench").rglob("*.py"))]
    imported: set[str] = set()
    for path in sources:
        here = dotted(path).split(".")
        if path.name != "__init__.py":
            here = here[:-1]
        for node in ast.walk(ast.parse(path.read_text())):
            names = []
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                base = ".".join(here[:len(here) - node.level + 1]
                                + ([node.module] if node.module else [])
                                ) if node.level else node.module
                names = [base] + [f"{base}.{a.name}" for a in node.names]
            for name in names:
                parts = name.split(".")
                imported.update(".".join(parts[:i])
                                for i in range(1, len(parts) + 1))
    modules = {dotted(p) for p in pkg.rglob("*.py")} - {"paddleocr_spark"}
    missing = sorted(m.split(".", 1)[1] for m in modules - imported)
    assert [m for m in missing if m not in _ALLOWED_UNIMPORTED] == []
