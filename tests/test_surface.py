"""The engine's surface is what something outside the tests uses.

Three static checks over the source tree (no Spark):

1. Every top-level function or class in ``ner_spark/``, and every public
   method of a top-level class, is referenced by code outside ``tests/``,
   or is on ``ALLOWED`` with a reason. ``@query`` registrations are
   exempt: the registry reaches them through ``Q``. A reference is an AST
   ``Name``, an ``Attribute``, an import alias or a string constant that
   is exactly the identifier (``perfbench/trace.py`` wraps catalog
   methods by name). Docstrings and comments are not references.
2. No ``ALLOWED`` entry is stale.
3. No module in ``ner_spark/``, ``tools/`` or ``tests/`` has an unused
   import, except on statements marked ``noqa: ...F401``.
4. The whitespace rule (tokenize, collapse, blank-document filter) is
   written only in its twin definitions: ``tokens``, ``normalize_ws`` and
   ``has_text`` in ``functions/text.py`` and their DuckDB twins in
   ``queries.py``.
"""

from __future__ import annotations

import ast
import os
import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = REPO / "ner_spark"

# definitions with no caller outside tests/ that stay, and why
ALLOWED = {
    "ner_spark.sources.casen_xml.scan_casen_results": "SURVEY operator A4 (COVERAGE)",
    "ner_spark.sources.casen_xml.write_corpus": "SURVEY operator A3 (COVERAGE)",
    "ner_spark.sources.excel.read_xlsx_records": "SURVEY operator A1; parses the reference workbooks",
    "ner_spark.sources.catalog.write_range_clustered": "the baseline test_zorder compares Z-order against",
    "ner_spark.sources.catalog.write_zorder_clustered": "table_zorder_stats replays its clustering",
    "ner_spark.sources.snapshots.SnapshotCatalog.read_buckets": "incremental reads for the planned snapshot-log Runner",
    "ner_spark.sources.snapshots.SnapshotCatalog.expire": "orphan-commit cleanup for the planned snapshot-log Runner",
}

_NOQA_F401 = re.compile(r"#\s*noqa\b[^\n]*F401")


def _py_files(root: pathlib.Path) -> list[pathlib.Path]:
    """Python files under ``root``, skipping hidden dirs and every ``tests``
    dir below it."""
    out = []
    for d, dirs, files in os.walk(root):
        dirs[:] = sorted(
            x for x in dirs if not x.startswith(".") and x not in ("__pycache__", "tests")
        )
        out += [pathlib.Path(d, f) for f in sorted(files) if f.endswith(".py")]
    return out


def _parse(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def _docstrings(tree: ast.AST) -> set[int]:
    """ids of the string constants that are statements, docstrings included."""
    return {
        id(n.value)
        for n in ast.walk(tree)
        if isinstance(n, ast.Expr)
        and isinstance(n.value, ast.Constant)
        and isinstance(n.value.value, str)
    }


def _references(tree: ast.Module) -> set[str]:
    skip = _docstrings(tree)
    refs: set[str] = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            refs.add(n.id)
        elif isinstance(n, ast.Attribute):
            refs.add(n.attr)
        elif isinstance(n, ast.alias):
            refs.add(n.name.rsplit(".", 1)[-1])
        elif (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and n.value.isidentifier()
            and id(n) not in skip
        ):
            refs.add(n.value)
    return refs


def _is_query(fn: ast.FunctionDef | ast.ClassDef) -> bool:
    for d in fn.decorator_list:
        target = d.func if isinstance(d, ast.Call) else d
        if isinstance(target, ast.Name) and target.id == "query":
            return True
    return False


def _definitions() -> dict[str, str]:
    """qualified name -> bare name of every definition the guard covers."""
    defs = {}
    defs_types = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
    for path in _py_files(PACKAGE):
        mod = ".".join(path.relative_to(REPO).with_suffix("").parts)
        for node in _parse(path).body:
            if not isinstance(node, defs_types) or _is_query(node):
                continue
            defs[f"{mod}.{node.name}"] = node.name
            if isinstance(node, ast.ClassDef):
                for m in node.body:
                    if isinstance(m, defs_types) and not m.name.startswith("_"):
                        defs[f"{mod}.{node.name}.{m.name}"] = m.name
    return defs


def _orphans() -> list[str]:
    refs: set[str] = set()
    for path in _py_files(REPO):
        refs |= _references(_parse(path))
    return sorted(q for q, name in _definitions().items() if name not in refs)


def test_every_definition_has_a_non_test_caller():
    orphans = [q for q in _orphans() if q not in ALLOWED]
    assert not orphans, (
        "defined in ner_spark/ but referenced only by tests (delete it, move "
        f"it into tests/, or add it to ALLOWED with a reason): {orphans}"
    )


def test_allow_list_is_not_stale():
    orphans = set(_orphans())
    stale = sorted(q for q in ALLOWED if q not in orphans)
    assert not stale, f"ALLOWED entries that are gone or now have a caller: {stale}"


def _unused_imports(path: pathlib.Path) -> list[str]:
    source = path.read_text(encoding="utf-8")
    lines = source.splitlines()
    tree = ast.parse(source, filename=str(path))
    skip = _docstrings(tree)
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)} | {
        n.value
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in skip
    }
    out = []
    for n in ast.walk(tree):
        if not isinstance(n, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(n, ast.ImportFrom) and n.module == "__future__":
            continue
        if any(_NOQA_F401.search(line) for line in lines[n.lineno - 1:n.end_lineno]):
            continue
        for a in n.names:
            bound = a.asname or a.name.split(".", 1)[0]
            if a.name != "*" and bound not in used:
                out.append(f"{path.relative_to(REPO)}:{n.lineno} {bound}")
    return out


def test_no_unused_imports():
    unused = []
    for sub in ("ner_spark", "tools", "tests"):
        for path in _py_files(REPO / sub):
            unused += _unused_imports(path)
    assert not unused, f"unused imports: {unused}"


#: an inline copy of the whitespace rule, on either engine
_WS_RULE = re.compile(
    r"string_split_regex\(trim|length\((F\.)?trim\(|'\\{1,2}s\+'"
    r"|F\.trim\(F\.regexp_replace|F\.split\(F\.trim\("
)
_WS_TWINS = {
    "ner_spark/functions/text.py": {"tokens", "normalize_ws", "has_text"},
    "ner_spark/queries.py": {"WS_CLASS", "tokens_sql", "normalize_ws_sql", "HAS_TEXT_SQL"},
}


def _defined_lines(tree: ast.Module, names: set[str]) -> set[int]:
    lines: set[int] = set()
    for node in tree.body:
        if isinstance(node, ast.FunctionDef):
            bound = {node.name}
        elif isinstance(node, ast.Assign):
            bound = {t.id for t in node.targets if isinstance(t, ast.Name)}
        else:
            continue
        if bound & names:
            lines |= set(range(node.lineno, node.end_lineno + 1))
    return lines


def test_whitespace_rule_is_written_once():
    stray = []
    for path in _py_files(PACKAGE):
        rel = path.relative_to(REPO).as_posix()
        twins = _defined_lines(_parse(path), _WS_TWINS.get(rel, set()))
        for i, line in enumerate(path.read_text(encoding="utf-8").splitlines(), 1):
            if _WS_RULE.search(line) and i not in twins:
                stray.append(f"{rel}:{i}: {line.strip()}")
    assert not stray, (
        "inline whitespace rule; call functions.text.tokens/normalize_ws/has_text "
        f"or queries.tokens_sql/normalize_ws_sql/HAS_TEXT_SQL instead: {stray}"
    )
