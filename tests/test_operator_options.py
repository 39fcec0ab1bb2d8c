"""Every name and every option in the program has a caller.

A top-level name of ``pero_ocr_api_spark/`` must be reached from an
entry point: a name mentioned in ``jobs/``, ``scripts/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py``, a
``streaming/pipeline.stream_*`` function, or a module-level statement
of the package that is not a definition (imports, registry dicts).
Reach is transitive by name: a reached definition reaches every name
its body mentions. Code only tests run is deleted with its tests.

A defaulted parameter of a function in ``pero_ocr_api_spark/operators/``,
``plans/`` or ``ocr/kernel.py`` must be set by at least one call in the
program: the package, ``jobs/``, ``bench.py``, ``__spark_entry__.py``,
``scripts/`` or ``perfbench/`` (never ``tests/``). A parameter counts
as set when some call to a function of that name passes it by keyword,
by position, or through ``*args`` / ``**kwargs``. An option no caller
sets is a constant: write it as one, and delete the paths only it
reaches. Calls through another name (``BandFamily.bands``) are not
matched, so a function called that way takes no defaults.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PROGRAM = (
    "pero_ocr_api_spark", "jobs", "bench.py", "__spark_entry__.py", "scripts", "perfbench"
)
PACKAGE = ROOT / "pero_ocr_api_spark"
OPTION_SCOPES = (PACKAGE / "operators", PACKAGE / "plans", PACKAGE / "ocr" / "kernel.py")
# Options only tests set, each with the reason it stays an option.
TEST_OPTIONS = {
    # pins the UDF partition count for test_plans' lineage-row test and
    # the determinism probe (same output at any partition count)
    ("run_extract", "udf_partitions"),
}
STREAMING = PACKAGE / "streaming" / "pipeline.py"
# Package names no entry point reaches that tests keep as a reference
# or a fixture; each is a root of the reach census.
TEST_REFERENCES = {
    "__version__",  # package metadata, read by no code
    "duckdb_normalize_arabic_sql",  # test_html_clean::test_arabic_parity
    "encode_text_pdf_a85",  # test_pdf::test_ascii85_roundtrip
    "encode_text_pdf_rle",  # test_pdf::test_rle_roundtrip
    "generate_pandas",  # conftest::corpus_pandas
}


def _program_files():
    for name in PROGRAM:
        path = ROOT / name
        files = [path] if path.is_file() else sorted(path.rglob("*.py"))
        for f in files:
            if "tests" not in f.relative_to(ROOT).parts:
                yield f


def _defaulted(fn: ast.FunctionDef, is_method: bool):
    """(name, positional index or None) of each defaulted parameter;
    a method's index counts from the first argument after self/cls."""
    a = fn.args
    pos = a.posonlyargs + a.args
    skip = 1 if is_method and pos and pos[0].arg in ("self", "cls") else 0
    first = len(pos) - len(a.defaults)
    out = [(p.arg, i - skip) for i, p in enumerate(pos) if i >= first]
    out += [
        (p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]
    return out


def _is_set(name: str, index: int | None, calls: list[ast.Call]) -> bool:
    for c in calls:
        if any(k.arg in (name, None) for k in c.keywords):
            return True
        if index is not None and (
            len(c.args) > index or any(isinstance(x, ast.Starred) for x in c.args)
        ):
            return True
    return False


def unset_operator_options() -> list[str]:
    calls: dict[str, list[ast.Call]] = defaultdict(list)
    defs: list[tuple[Path, ast.FunctionDef, bool]] = []
    for f in _program_files():
        tree = ast.parse(f.read_text())
        methods = {
            id(m)
            for cls in ast.walk(tree)
            if isinstance(cls, ast.ClassDef)
            for m in cls.body
        }
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                fn = node.func
                name = getattr(fn, "id", None) or getattr(fn, "attr", None)
                if name:
                    calls[name].append(node)
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if any(f.is_relative_to(scope) for scope in OPTION_SCOPES):
                    defs.append((f, node, id(node) in methods))
    return [
        f"{f.relative_to(ROOT)}:{fn.lineno} {fn.name}({name}=...)"
        for f, fn, is_method in defs
        for name, index in _defaulted(fn, is_method)
        if (fn.name, name) not in TEST_OPTIONS
        and not _is_set(name, index, calls[fn.name])
    ]


def test_every_operator_option_has_a_caller():
    hits = unset_operator_options()
    assert not hits, (
        f"{len(hits)} operator options no caller sets:\n" + "\n".join(hits)
    )


def _mentioned(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, (ast.Assign, ast.AnnAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return [n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)]
    return []


def unreached_program_names() -> list[str]:
    defs: dict[str, list[tuple[Path, ast.stmt]]] = defaultdict(list)
    reached = set(TEST_REFERENCES)
    for f in _program_files():
        tree = ast.parse(f.read_text())
        if not f.is_relative_to(PACKAGE):
            reached |= _mentioned(tree)
            continue
        for stmt in tree.body:
            names = _defined(stmt)
            if not names:
                reached |= _mentioned(stmt)
            for name in names:
                defs[name].append((f, stmt))
                if f == STREAMING and name.startswith("stream_"):
                    reached.add(name)
    todo = list(reached)
    while todo:
        for _, stmt in defs.get(todo.pop(), ()):
            new = _mentioned(stmt) - reached
            reached |= new
            todo += new
    return sorted(
        f"{f.relative_to(ROOT)}:{stmt.lineno} {name}"
        for name, sites in defs.items()
        if name not in reached
        for f, stmt in sites
    )


def test_every_program_name_is_reached():
    hits = unreached_program_names()
    assert not hits, (
        f"{len(hits)} package names no entry point reaches:\n" + "\n".join(hits)
    )
