"""The crawl engine stands alone: walking `gepris_spark` imports from
`streaming/microbatch.py` (module level and inside functions alike)
never reaches the contract-query surface (`plans`), the corpus and
truth sources (`sources`) or the Structured Streaming sketches (every
`streaming` module except the engine loop itself)."""

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
