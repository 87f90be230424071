"""Every public top-level name in ``webdq`` is reached from a query, a
pipeline, the benchmark or a tool.

Static and Spark-free: start from the names the roots mention (an
identifier, an attribute, an import alias or an identifier-valued string
such as perfbench's ``tracer.wrap(label, "keep_dim_plan", ...)``), then
follow the body of every ``webdq`` definition reached, until nothing
changes. Docstrings do not count as a reference. Reference
implementations that tests compare against may stay unreached.
"""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ROOTS = [REPO / "__spark_entry__.py", REPO / "bench.py",
         *sorted((REPO / "tools").glob("*.py")), *sorted((REPO / "perfbench").glob("*.py"))]
ORACLES = {"fit_pca", "ecdf_naive", "ann_recall"}   # and all of oracle.py


def _parse(path: Path) -> ast.Module:
    tree = ast.parse(path.read_text())
    for n in ast.walk(tree):
        body = getattr(n, "body", None)
        if isinstance(body, list) and body and isinstance(body[0], ast.Expr) \
                and isinstance(body[0].value, ast.Constant) and isinstance(body[0].value.value, str):
            body[0] = ast.Pass()   # drop the docstring
    return tree


def _names(node) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.asname or n.name.split(".")[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def test_every_public_webdq_name_is_reached():
    defs: dict[str, set[str]] = {}   # top-level name -> names its definition mentions
    public: set[str] = set()
    reached = set().union(*(_names(_parse(root)) for root in ROOTS))
    for path in sorted((REPO / "webdq").glob("*.py")):
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                targets = [stmt.name]
            elif isinstance(stmt, (ast.Assign, ast.AnnAssign)):
                targets = [t.id for t in getattr(stmt, "targets", [getattr(stmt, "target", None)])
                           if isinstance(t, ast.Name)]
            else:
                if not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                    reached |= _names(stmt)   # module-level code runs on import
                continue
            for name in targets:
                defs.setdefault(name, set()).update(_names(stmt))
                if path.stem != "oracle" and not name.startswith("_"):
                    public.add(name)
    frontier = reached & defs.keys()
    while frontier:
        new = set().union(*(defs[n] for n in frontier)) - reached
        reached |= new
        frontier = new & defs.keys()
    unreached = sorted(public - reached - ORACLES)
    assert not unreached, f"webdq names no root reaches: {unreached}"
