"""The crawl engine stands alone: walking `gepris_spark` imports from
`streaming/microbatch.py` (module level and inside functions alike)
never reaches the contract-query surface (`plans`), the corpus and
truth sources (`sources`) or the Structured Streaming sketches (every
`streaming` module except the engine loop itself). Every public name
left in the closure has a referrer in the engine, `cli.py` or
`perfbench/`, or an entry on a short allow-list naming its outside
caller; the search sweep and the F1-F15 parity helpers stay outside."""

from __future__ import annotations

import ast
import os

import gepris_spark

PKG_DIR = os.path.dirname(os.path.abspath(gepris_spark.__file__))
ENGINE = "gepris_spark.streaming.microbatch"
FORBIDDEN = ("gepris_spark.plans", "gepris_spark.sources", "gepris_spark.streaming")


def _path(module: str) -> str | None:
    """Source file of a `gepris_spark` module or package, or None when
    `module` names no file (an attribute imported from its parent)."""
    rel = os.path.join(PKG_DIR, *module.split(".")[1:])
    for candidate in (rel + ".py", os.path.join(rel, "__init__.py")):
        if os.path.isfile(candidate):
            return candidate
    return None


def _imports(module: str) -> set[str]:
    """`gepris_spark` modules one file imports, anywhere in its body."""
    path = _path(module)
    is_pkg = path.endswith("__init__.py")
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    found: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parts = module.split(".")
                anchor = parts[: len(parts) - node.level + (1 if is_pkg else 0)]
                base = ".".join(anchor + ([base] if base else []))
            names = [base] + [f"{base}.{alias.name}" for alias in node.names]
        else:
            continue
        for name in names:
            if name.split(".")[0] != "gepris_spark":
                continue
            # importing a.b.c runs the packages a and a.b first
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if _path(prefix) is not None:
                    found.add(prefix)
    return found


def engine_closure() -> set[str]:
    seen, todo = set(), [ENGINE]
    while todo:
        module = todo.pop()
        if module in seen:
            continue
        seen.add(module)
        todo.extend(_imports(module) - seen)
    return seen


def test_engine_imports_no_contract_surface():
    closure = engine_closure()
    assert ENGINE in closure and "gepris_spark.operators.urlseen" in closure
    leaks = sorted(
        m
        for m in closure
        if m != ENGINE
        and m != "gepris_spark.streaming"
        and any(m == f or m.startswith(f + ".") for f in FORBIDDEN)
    )
    assert leaks == [], f"the crawl engine imports {leaks}"


def test_engine_closure_leaves_out_textstats():
    """`functions/__init__` imports only what the engine uses; the
    contract surface imports `textstats` by name."""
    assert "gepris_spark.functions.textstats" not in engine_closure()


REPO_DIR = os.path.dirname(PKG_DIR)
# Public names of the closure that nothing in the engine, `cli.py` or
# `perfbench/` references, each with the outside caller that keeps it.
UNREFERENCED_OK = {
    "gepris_spark.codecs.jpeg.parse_quant_tables": (
        "operators/multimodal's jpeg-quality stage and sources/truth read DQT "
        "tables; the segment parser stays with the jpeg format"
    ),
    "gepris_spark.codecs.jpeg.quality_table_candidates": (
        "operators/multimodal's jpeg-quality stage; built from the jpeg "
        "module's own quant tables"
    ),
    "gepris_spark.codecs.image.pixels_match": (
        "the per-format pixel invariant multimodal.decode_verify_stage and "
        "sources/truth check; stays with the codecs whose loss it bounds"
    ),
    "gepris_spark.codecs.image.hamming64": (
        "phash distance for tests/test_codecs and test_imagepipe; kept beside phash64"
    ),
    "gepris_spark.operators.politeness.robots_table": (
        "builds the robots frame apply_robots reads (tests/test_frontier); "
        "kept beside its robots.txt grammar"
    ),
    "gepris_spark.operators.frontier.Frontier.get_ids": (
        "the reference's priority queue over the frontier (A2), "
        "tests/test_frontier"
    ),
    "gepris_spark.operators.fetchparse.read_through_fetch": (
        "the cache-with-live-fallback fetch run_details_batch(fetch=) takes "
        "(tests/test_cache_evict)"
    ),
    "gepris_spark.operators.fetchparse.http_fetch_stage": (
        "the all-live fetch run_details_batch(fetch=) takes (tests/test_http_fetch)"
    ),
    "gepris_spark.operators.fetchparse.urllib_fetcher": (
        "the stdlib fetcher http_fetch_stage runs (tests/test_http_fetch)"
    ),
    "gepris_spark.streaming.microbatch.CrawlEngine.host_state": (
        "the last ledger row's per-host politeness state as a frame, for "
        "tests/test_replay and tests/test_http_fetch"
    ),
}


def _referenced_names(path: str, with_strings: bool = False) -> set[str]:
    """Every name one file references: bare names, attribute names and
    imported names; with `with_strings`, identifier-like string
    constants too (perfbench names its trace targets by string)."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    found: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            found.add(node.id)
        elif isinstance(node, ast.Attribute):
            found.add(node.attr)
        elif isinstance(node, ast.alias):
            found.add(node.name.rsplit(".", 1)[-1])
        elif with_strings and isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():
                found.add(node.value)
    return found


def _public_definitions(module: str) -> dict[str, str]:
    """{qualified name: bare name} of a module's public top-level
    functions and classes and the public methods of its public classes."""
    with open(_path(module)) as fh:
        tree = ast.parse(fh.read())
    out = {}
    for node in tree.body:
        if not isinstance(node, (ast.FunctionDef, ast.ClassDef)) or node.name.startswith("_"):
            continue
        out[f"{module}.{node.name}"] = node.name
        if isinstance(node, ast.ClassDef):
            for item in node.body:
                if isinstance(item, ast.FunctionDef) and not item.name.startswith("_"):
                    out[f"{module}.{node.name}.{item.name}"] = item.name
    return out


def test_every_public_engine_name_has_a_referrer():
    """Code that only the contract queries or tests call lives outside
    the closure; what stays in it is called by the engine, `cli.py` or
    `perfbench/`, or is on the allow-list with its outside caller."""
    closure = engine_closure()
    referenced: set[str] = set()
    for module in closure:
        referenced |= _referenced_names(_path(module))
    referenced |= _referenced_names(os.path.join(PKG_DIR, "cli.py"))
    bench_dir = os.path.join(REPO_DIR, "perfbench")
    for fname in sorted(os.listdir(bench_dir)):
        if fname.endswith(".py"):
            referenced |= _referenced_names(os.path.join(bench_dir, fname), with_strings=True)
    defined: dict[str, str] = {}
    for module in closure:
        defined.update(_public_definitions(module))
    unreferenced = sorted(q for q, name in defined.items() if name not in referenced)
    assert unreferenced == sorted(UNREFERENCED_OK), (
        f"no referrer: {sorted(set(unreferenced) - set(UNREFERENCED_OK))}; "
        f"stale allow-list entries: {sorted(set(UNREFERENCED_OK) - set(unreferenced))}"
    )


def test_contract_only_modules_stay_outside():
    closure = engine_closure()
    assert "gepris_spark.operators.search" not in closure
    assert "gepris_spark.functions.parity" not in closure
