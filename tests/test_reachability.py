"""Every public top-level name in ``webdq`` is reached from a query, a
pipeline, the benchmark or a tool, and every option it takes is set by
one of them.

Static and Spark-free: start from the names the roots mention (an
identifier, an attribute, an import alias or an identifier-valued string
such as perfbench's ``tracer.wrap(label, "keep_dim_plan", ...)``), then
follow the body of every ``webdq`` definition reached, until nothing
changes. Docstrings do not count as a reference. Reference
implementations that tests compare against may stay unreached.

The option ratchet: a defaulted parameter of a public ``webdq``
function, or a ``PipelineConfig`` field, that no root call passes (by
keyword or position; ``webdq`` counts as a root here) has one value in
use, so it should be a constant. Column-name parameters select no code
path and are exempt, as are the oracles and the allowlist below.
"""

import ast
import math
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ROOTS = [REPO / "__spark_entry__.py", REPO / "bench.py",
         *sorted((REPO / "tools").glob("*.py")), *sorted((REPO / "perfbench").glob("*.py"))]
ORACLES = {"fit_pca", "ecdf_naive", "ann_recall"}   # and all of oracle.py
COLUMN_PARAMS = {"out", "prefix", "suffix", "on", "id1", "id2"}   # and every *_col
# Options no root sets, kept on purpose: function(parameter) -> reason.
UNSET_ALLOWED = {
    "normalize.ecdf(low_card_threshold)": "tests force the ECDF path the code picks from a column's cardinality",
    "normalize.ecdf(probe_buckets)": "tests force the probe re-run the code picks from the observed bucket fill",
    "textprep.learn_bpe(incremental_threshold)": "tests force the incremental path the code picks from the word-type count",
    "textprep.apply_bpe(checkpoint_every)": "tests force the checkpoint the code takes every 8 merges",
    "hostagg.run_host_pipeline(broadcast_hosts_threshold)": "tests force the shuffle join the code picks above 10M hosts",
    "hostagg.run_host_pipeline(workdir)": "checkpoint mode: no workload runs it yet, tests cover its resume path",
    "label.keep_dim_plan(weights)": "perfbench wraps keep_dim_plan; the host weights mirror keep_clusters'",
    "multimodal.synth_avi_media(partitions)": "tests vary the partition count of the synthetic media",
    "synth.generate_pages(tier_by_host)": "the host-pipeline tests need a host-tiered corpus",
}


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


def _passed_args(paths) -> dict[str, tuple[float, set[str]]]:
    """callee name -> (most positional arguments, keywords) over every
    call in ``paths``; a ``*args``/``**kw`` splat passes everything."""
    passed: dict[str, tuple[float, set[str]]] = {}
    for path in paths:
        tree = ast.parse(path.read_text())
        alias = {a.asname: a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
                 for a in n.names if a.asname}
        for n in ast.walk(tree):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            name = alias.get(f.id, f.id) if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            npos, kws = passed.get(name, (0, set()))
            splat = any(isinstance(a, ast.Starred) for a in n.args) or any(k.arg is None for k in n.keywords)
            npos = math.inf if splat else max(npos, len(n.args))
            passed[name] = (npos, kws | {k.arg for k in n.keywords if k.arg})
    return passed


def root_unset_options(repo: Path = REPO) -> list[str]:
    """``module.function(parameter)`` for every defaulted, non-column
    parameter of a public webdq function or PipelineConfig field that
    no root call passes (oracles included; the allowlist not applied)."""
    webdq = sorted((repo / "webdq").glob("*.py"))
    roots = [repo / "__spark_entry__.py", repo / "bench.py", *sorted((repo / "tools").glob("*.py")),
             *sorted((repo / "perfbench").glob("*.py")), *webdq]
    passed = _passed_args(roots)
    unset = []
    for path in webdq:
        if path.stem == "oracle":
            continue
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, ast.FunctionDef) and not stmt.name.startswith("_"):
                a = stmt.args
                params = [p.arg for p in a.posonlyargs + a.args]
                defaulted = params[len(params) - len(a.defaults):]
                defaulted += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
            elif isinstance(stmt, ast.ClassDef) and stmt.name == "PipelineConfig":
                params = defaulted = [s.target.id for s in stmt.body if isinstance(s, ast.AnnAssign) and s.value]
            else:
                continue
            npos, kws = passed.get(stmt.name, (0, set()))
            # a keyword-only parameter sits after every positional one
            pos = {p: params.index(p) if p in params else len(params) for p in defaulted}
            unset += [f"{path.stem}.{stmt.name}({p})" for p in defaulted
                      if not (p.endswith("_col") or p in COLUMN_PARAMS or p in kws or pos[p] < npos)]
    return unset


def test_every_webdq_option_is_set_by_a_root():
    """The option ratchet: a new root-unset option fails here until a
    root sets it, it becomes a constant, or it joins UNSET_ALLOWED with
    a reason; an allowlist entry that a root now sets must go."""
    unset = root_unset_options()
    flagged = [u for u in unset if u not in UNSET_ALLOWED and u.split("(")[0].split(".")[1] not in ORACLES]
    assert not flagged, f"defaulted webdq options no root passes: {flagged}"
    stale = sorted(set(UNSET_ALLOWED) - set(unset))
    assert not stale, f"allowlisted options a root now passes (or that are gone): {stale}"


def _reads_parquet_table(call: ast.Call) -> bool:
    """``<...>.read<...>.parquet(f"<dir>/<table>.parquet")``: a
    DataFrameReader call on a formatted path to a ``.parquet`` table."""
    f = call.func
    if not (isinstance(f, ast.Attribute) and f.attr == "parquet" and call.args):
        return False
    arg = call.args[0]
    if not (isinstance(arg, ast.JoinedStr) and any(isinstance(v, ast.FormattedValue) for v in arg.values)):
        return False
    tail = "".join(v.value for v in arg.values if isinstance(v, ast.Constant))
    node = f.value
    while isinstance(node, (ast.Attribute, ast.Call)):
        if isinstance(node, ast.Attribute) and node.attr == "read":
            return tail.endswith(".parquet")
        node = node.value if isinstance(node, ast.Attribute) else node.func
    return False


def test_contract_tables_are_read_through_read_table():
    """A bare ``spark.read.parquet`` of a contract table infers its
    schema in a Spark job; every such read goes through
    ``storage.read_table``, which declares the schema."""
    found = []

    def walk(node, path):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.FunctionDef) and child.name == "read_table":
                continue
            if isinstance(child, ast.Call) and _reads_parquet_table(child):
                found.append(f"{path.relative_to(REPO)}:{child.lineno}")
            walk(child, path)

    for path in [REPO / "__spark_entry__.py", *sorted((REPO / "webdq").glob("*.py")),
                 *sorted((REPO / "tools").glob("*.py"))]:
        walk(ast.parse(path.read_text()), path)
    assert not found, f"contract-table reads outside storage.read_table: {found}"


def test_no_traced_name_is_bound_at_import():
    """perfbench's tracer wraps a function by replacing its module
    attribute, so a top-level ``from webdq.<module> import <name>`` of a
    wrapped name keeps the unwrapped function: the traced run misses
    its span, and the layer metric reads 0 with no error."""
    tracing = ast.parse((REPO / "perfbench" / "tracing.py").read_text())
    traced = {(c.args[0].id, c.args[1].value) for c in ast.walk(tracing)
              if isinstance(c, ast.Call) and getattr(c.func, "attr", None) == "wrap" and len(c.args) >= 2
              and isinstance(c.args[0], ast.Name) and isinstance(c.args[1], ast.Constant)}
    assert ("synth", "pages_from_documents") in traced
    found = []
    for path in [REPO / "__spark_entry__.py", REPO / "bench.py", *sorted((REPO / "tools").glob("*.py")),
                 *sorted((REPO / "webdq").glob("*.py"))]:
        for stmt in ast.parse(path.read_text()).body:
            if not isinstance(stmt, ast.ImportFrom) or not stmt.module:
                continue
            if stmt.level == 0 and stmt.module.startswith("webdq."):
                module = stmt.module[len("webdq."):]
            elif stmt.level == 1:
                module = stmt.module
            else:
                continue
            found += [f"{path.relative_to(REPO)}:{stmt.lineno} {module}.{a.name}"
                      for a in stmt.names if (module, a.name) in traced]
    assert not found, f"traced names bound at import time: {found}"
