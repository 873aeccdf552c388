"""Every public top-level function and class in ``sassy_spark/`` has a
caller outside its own body: a driver query (``__spark_entry__.py``),
the benchmarks (``bench.py``, ``perfbench/``), a tool (``tools/``) or
other package code. Code that only tests reach belongs in ``tests/``.
Spark-free: an AST scan, no session."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# name -> why it stays with no caller
ALLOWED = {
    "read_warc": "only reader of the Common-Crawl WARC input format",
    "parse_warc_bytes": "WARC record parser behind read_warc",
    "export_warc": "only writer of the WARC format (transactional export)",
}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
    return out


def _sources() -> list[Path]:
    return (
        sorted((ROOT / "sassy_spark").rglob("*.py"))
        + [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
        + sorted((ROOT / "perfbench").rglob("*.py"))
        + sorted((ROOT / "tools").rglob("*.py"))
    )


def unreached() -> dict[str, str]:
    """Public top-level defs/classes of ``sassy_spark/`` that no source
    references outside their own body, as ``{name: file}``."""
    defs: dict[str, str] = {}
    refs: set[str] = set()
    for path in _sources():
        tree = ast.parse(path.read_text())
        in_pkg = path.is_relative_to(ROOT / "sassy_spark")
        for node in tree.body:
            is_def = isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            )
            if is_def and in_pkg and not node.name.startswith("_"):
                defs[node.name] = str(path.relative_to(ROOT))
            refs |= _names(node) - ({node.name} if is_def else set())
    return {n: f for n, f in defs.items() if n not in refs}


def test_every_public_definition_has_a_caller():
    dead = {n: f for n, f in unreached().items() if n not in ALLOWED}
    assert not dead, (
        "unreached by any query, benchmark, tool or package code "
        f"(delete it, or move it into tests/ if a test needs it): {dead}"
    )


def test_allowlist_is_not_stale():
    from sassy_spark.sources import warc

    assert all(hasattr(warc, n) for n in ALLOWED)
