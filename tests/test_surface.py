"""Library surface guard: every top-level function and class in
``unify_spark/`` is named somewhere in the repo outside ``tests/`` — by the
package itself, ``scripts/``, ``__spark_entry__.py``, ``bench*.py``,
``perfbench/`` or ``examples/``. A definition that only tests reach is
dead surface; delete it with its tests instead of counting it as coverage.

The scan is transitive: a name counts only where the code naming it is
itself live. Module-level code and every file outside ``unify_spark/`` are
live; a definition's body is live once its own name is. So a helper whose
only caller is another dead helper is reported too. Names are matched by
identifier (an attribute, an import, or an identifier inside a string such
as a ``"module:function"`` dispatch entry), which errs towards keeping;
a docstring names nothing.
Pure ``ast``; no Spark.
"""

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "unify_spark"
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

# Dead on purpose, each with the reason it stays.
KEEP = {
    "quantile_from_rows": "ROADMAP D8 replaces the t-digest quantile reader with moment sketches",
    "with_quality": "the Column form that ROADMAP D5 pins with_quality_frame against",
    "hll_estimate": "the reader of the HLL sidecar that runner.profile persists",
}


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    # a string statement (a docstring) documents a name; it does not use it
    docs = {
        id(n.value)
        for n in ast.walk(node)
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant) and isinstance(n.value.value, str)
    }
    for n in ast.walk(node):
        if id(n) in docs:
            continue
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.asname or n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(_IDENT.findall(n.value))
    return out


def _outside_sources() -> list[Path]:
    files = [REPO / "__spark_entry__.py", *sorted(REPO.glob("bench*.py"))]
    for d in ("scripts", "perfbench", "examples"):
        files += sorted(p for p in (REPO / d).rglob("*") if p.is_file())
    return [p for p in files if "__pycache__" not in p.parts]


def dead_definitions() -> dict[str, str]:
    """``{name: "<module path>:<line>"}`` of every top-level definition in
    the package that no live code names."""
    defs: dict[str, list] = {}  # name -> [(where, node)]
    live: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                where = f"{path.relative_to(REPO)}:{st.lineno}"
                defs.setdefault(st.name, []).append((where, st))
            else:
                live |= _names(st)
    for path in _outside_sources():
        text = path.read_text(errors="ignore")
        live |= _names(ast.parse(text)) if path.suffix == ".py" else set(_IDENT.findall(text))
    pending = [n for n in defs if n in live]
    while pending:
        name = pending.pop()
        for _, node in defs[name]:
            for ref in _names(node) - live:
                live.add(ref)
                if ref in defs:
                    pending.append(ref)
    return {name: sites[0][0] for name, sites in sorted(defs.items()) if name not in live}


def test_no_test_only_library_surface():
    dead = {n: w for n, w in dead_definitions().items() if n not in KEEP}
    assert not dead, (
        "named nowhere outside tests/ — delete these (and their tests), or "
        f"add a reasoned KEEP entry: {dead}"
    )


def test_keep_list_is_current():
    """A KEEP entry whose definition is gone, or that live code now names,
    is stale and must be dropped."""
    dead = dead_definitions()
    assert set(KEEP) <= set(dead), sorted(set(KEEP) - set(dead))
