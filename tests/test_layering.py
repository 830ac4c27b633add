"""One-way layering of the package, pinned by an AST scan and by import
order.

Layers, lowest first: kernels/, functions/ and sources/ are shared homes
and import nothing from the query or engine layers; operators/ is the
query registry; pipeline/, streaming/ and jobs/ compose the shared homes
and import nothing from operators/, at module level or in a function
body. The registry itself is assembled in operators/__init__.py alone,
so its order cannot depend on which module a process imports first, and
every registered query has a measured cost in __spark_entry__.py.

Every top-level def in ocr_spark/ is reached from non-test code, except
the short list of kept names below, each with its reason.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LEAF_LAYERS = ("kernels", "functions", "sources")
UPPER_LAYERS = ("operators", "pipeline", "streaming")


def _scanned_files() -> list[Path]:
    files = sorted((ROOT / "ocr_spark").rglob("*.py"))
    files += sorted((ROOT / "jobs").rglob("*.py"))
    files += sorted((ROOT / "tools").rglob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    return [f for f in files if f.exists()]


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts = parts[:-1]
    return ".".join(parts)


def _resolve(path: Path, node: ast.ImportFrom) -> str:
    """Absolute module name of a (possibly relative) from-import."""
    if node.level == 0:
        return node.module or ""
    base = _module_name(path).split(".")
    if path.name != "__init__.py":
        base = base[:-1]
    base = base[:len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _imports(path: Path):
    """(imported module, imported name or None, node) for every import,
    including the ones inside function bodies."""
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            for a in node.names:
                yield a.name, None, node
        elif isinstance(node, ast.ImportFrom):
            mod = _resolve(path, node)
            for a in node.names:
                yield mod, a.name, node


def _in_layer(module: str, layers) -> bool:
    return any(module == f"ocr_spark.{lay}"
               or module.startswith(f"ocr_spark.{lay}.") for lay in layers)


def test_no_private_name_imported_from_operators():
    found = []
    for path in _scanned_files():
        mod = _module_name(path)
        if _in_layer(mod, ("operators",)):
            continue
        # module aliases bound to an operators module, for attribute use
        aliases = set()
        for target, name, node in _imports(path):
            if not _in_layer(target, ("operators",)):
                continue
            if name is None:
                continue
            full = f"{target}.{name}"
            if name.startswith("_"):
                found.append(f"{mod}: {full}")
            elif (ROOT / Path(*full.split("."))).with_suffix(".py").exists():
                alias = next(a.asname or a.name for a in node.names
                             if a.name == name)
                aliases.add(alias)
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Attribute) and node.attr.startswith("_")
                    and isinstance(node.value, ast.Name)
                    and node.value.id in aliases):
                found.append(f"{mod}: {node.value.id}.{node.attr}")
    assert not found, ("private query-layer names used outside "
                       "ocr_spark.operators:\n" + "\n".join(sorted(found)))


def test_leaf_layers_import_no_upper_layer():
    found = []
    for path in _scanned_files():
        mod = _module_name(path)
        if not _in_layer(mod, LEAF_LAYERS):
            continue
        for target, name, _node in _imports(path):
            full = target if name is None else f"{target}.{name}"
            if _in_layer(target, UPPER_LAYERS) or _in_layer(full,
                                                            UPPER_LAYERS):
                found.append(f"{mod} -> {full}")
    assert not found, ("kernels/functions/sources must not import the "
                       "query or engine layers:\n" + "\n".join(found))


def test_engine_layers_import_no_operators():
    found = []
    for path in _scanned_files():
        mod = _module_name(path)
        if not (_in_layer(mod, ("pipeline", "streaming"))
                or mod.startswith("jobs.")):
            continue
        for target, name, node in _imports(path):
            full = target if name is None else f"{target}.{name}"
            if _in_layer(target, ("operators",)) or _in_layer(
                    full, ("operators",)):
                found.append(f"{mod}:{node.lineno} -> {full}")
    assert not found, ("pipeline/, streaming/ and jobs/ must not import "
                       "the query layer:\n" + "\n".join(found))


# Top-level defs no non-test code reaches, kept on purpose.
KEPT_UNREACHED = {
    "ocr_spark.functions.classifier.score_text":
        "Python reference twin the classifier tests compare the Spark "
        "expression and the DuckDB oracle against",
    "ocr_spark.kernels.readability._text_of":
        "naive reference the fast tree feed's text accumulator is "
        "fuzzed against",
    "ocr_spark.kernels.readability._link_len_of":
        "naive reference the fast tree feed's link-length accumulator "
        "is fuzzed against",
    "ocr_spark.sources.ingest.ingest_zip":
        "zip-archive ingest (SURVEY S4)",
    "ocr_spark.sources.ingest._name_is_junk":
        "helper of ingest_zip (SURVEY S4)",
    "ocr_spark.sources.ingest._zip_explode_stage":
        "helper of ingest_zip (SURVEY S4)",
    "ocr_spark.pipeline.maintenance.compact_parquet":
        "parquet compaction, the small-files maintenance action",
    "ocr_spark.pipeline.maintenance.recover_compaction":
        "rolls back a compaction swap a crash interrupted",
    "ocr_spark.pipeline.maintenance._dir_stats":
        "helper of compact_parquet",
    "ocr_spark.pipeline.bucketing.write_bucketed":
        "bucketed catalog-table write for co-located joins",
    "ocr_spark.pipeline.bucketing.colocated_join":
        "exchange-free join of two write_bucketed tables",
    "ocr_spark.sources.readers.write_transcripts":
        "transcript writer, the inverse of read_transcripts",
}


def _names_used(nodes) -> set[str]:
    """Every bare name and attribute name under the nodes: a def counts
    as used wherever its name appears, whatever the module (a
    conservative over-approximation)."""
    out = set()
    for n in nodes:
        for m in ast.walk(n):
            if isinstance(m, ast.Name):
                out.add(m.id)
            elif isinstance(m, ast.Attribute):
                out.add(m.attr)
    return out


def unreached_defs() -> set[str]:
    """Fixpoint over ocr_spark/'s top-level defs: a def is reached when
    its name is used by a root — jobs/, tools/, perfbench/, bench.py,
    __spark_entry__.py, module-level code of ocr_spark/ outside any
    top-level def, or a name a package __init__ re-exports as its public
    API — or by the body of a def already reached. Tests are no root."""
    roots = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in ("jobs", "tools", "perfbench"):
        roots += sorted((ROOT / d).rglob("*.py"))
    reached = set()
    for f in roots:
        if f.exists():
            reached |= _names_used([ast.parse(f.read_text())])
    defs = {}
    for path in sorted((ROOT / "ocr_spark").rglob("*.py")):
        tree = ast.parse(path.read_text())
        for node in tree.body:
            if path.name == "__init__.py" and isinstance(node, ast.ImportFrom):
                reached |= {a.asname or a.name for a in node.names}
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                   ast.ClassDef)):
                defs[f"{_module_name(path)}.{node.name}"] = node
            else:
                reached |= _names_used([node])
    live = set()
    grew = True
    while grew:
        grew = False
        for key, node in defs.items():
            if key not in live and node.name in reached:
                live.add(key)
                reached |= _names_used([node])
                grew = True
    return set(defs) - live


def test_every_def_reached_or_kept_on_purpose():
    unreached = unreached_defs()
    assert unreached == set(KEPT_UNREACHED), (
        "defs no non-test code reaches (wire them into a job or delete "
        "them with their tests):\n"
        + "\n".join(sorted(unreached - set(KEPT_UNREACHED)))
        + "\nkept names that are reached now or gone:\n"
        + "\n".join(sorted(set(KEPT_UNREACHED) - unreached)))


def unused_imports() -> list[str]:
    """`path:line: name` for every import in ocr_spark/, jobs/ and tools/
    whose bound name the module never loads. Skipped: `__future__`
    imports, lines marked `# noqa: F401`, a package __init__'s top-level
    imports (its re-exported API) and names listed in `__all__`."""
    found = []
    for d in ("ocr_spark", "jobs", "tools"):
        for path in sorted((ROOT / d).rglob("*.py")):
            src = path.read_text()
            lines, tree = src.splitlines(), ast.parse(src)
            used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
            for n in ast.walk(tree):
                if isinstance(n, ast.Assign) and any(
                        isinstance(t, ast.Name) and t.id == "__all__"
                        for t in n.targets):
                    used |= {c.value for c in ast.walk(n.value)
                             if isinstance(c, ast.Constant)}
            for n in ast.walk(tree):
                if not isinstance(n, (ast.Import, ast.ImportFrom)):
                    continue
                if isinstance(n, ast.ImportFrom) and n.module == "__future__":
                    continue
                if path.name == "__init__.py" and n in tree.body:
                    continue
                if any("noqa: F401" in lines[i - 1]
                       for i in range(n.lineno, n.end_lineno + 1)):
                    continue
                for a in n.names:
                    bound = a.asname or a.name.split(".")[0]
                    if a.name != "*" and bound not in used:
                        found.append(f"{path.relative_to(ROOT)}:{n.lineno}: "
                                     f"{bound}")
    return found


def test_no_unused_imports():
    found = unused_imports()
    assert not found, "imports never used:\n" + "\n".join(found)


def test_registry_assembled_only_in_operators_package():
    init = ROOT / "ocr_spark" / "operators" / "__init__.py"
    tree = ast.parse(init.read_text())
    for target, name, _node in _imports(init):
        full = target if name is None else f"{target}.{name}"
        assert not _in_layer(full, ("pipeline",)), full
    for node in ast.walk(tree):
        if isinstance(node, ast.ExceptHandler):
            caught = ast.unparse(node.type) if node.type else ""
            assert "ImportError" not in caught, (
                "operators/__init__ must not tolerate a failed import")

    writers = []
    for path in _scanned_files():
        if _in_layer(_module_name(path), ("operators",)):
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            targets = []
            if isinstance(node, (ast.Assign, ast.AugAssign)):
                targets = (node.targets if isinstance(node, ast.Assign)
                           else [node.target])
            elif (isinstance(node, ast.Call)
                  and isinstance(node.func, ast.Attribute)
                  and node.func.attr in ("update", "setdefault", "pop")):
                targets = [node.func.value]
            for t in targets:
                base = t.value if isinstance(t, ast.Subscript) else t
                if isinstance(base, ast.Name) and "ALL_QUERIES" in base.id:
                    writers.append(f"{_module_name(path)}:{node.lineno}")
    assert not writers, "ALL_QUERIES written outside operators/: " + \
        ", ".join(writers)


_REGISTRY_PROBE = (
    "import importlib, json, sys\n"
    "importlib.import_module(sys.argv[1])\n"
    "loaded = sorted(m for m in sys.modules if m.startswith('ocr_spark.'))\n"
    "from ocr_spark.operators import ALL_QUERIES\n"
    "print(json.dumps({'names': list(ALL_QUERIES), 'loaded': loaded}))\n")


def _registry_after(first: str) -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep)
                       if p])
    out = subprocess.run([sys.executable, "-c", _REGISTRY_PROBE, first],
                         cwd=ROOT, env=env, capture_output=True, text=True,
                         timeout=120, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_registry_order_independent_of_import_order():
    runs = {first: _registry_after(first)
            for first in ("ocr_spark.operators", "ocr_spark.pipeline.curate",
                          "ocr_spark.pipeline.curate_convs")}
    base = runs["ocr_spark.operators"]
    assert not [m for m in base["loaded"]
                if m.startswith("ocr_spark.pipeline")], (
        "importing ocr_spark.operators must not load pipeline/")
    names = base["names"]
    assert len(names) == len(set(names))
    assert names[-2:] == ["curate_funnel", "conv_curate_funnel"]
    for first, run in runs.items():
        assert run["names"] == names, first


def test_every_query_has_a_measured_cost():
    import __spark_entry__
    from ocr_spark.operators import ALL_QUERIES
    assert set(ALL_QUERIES) == set(__spark_entry__._MEASURED_COST)
