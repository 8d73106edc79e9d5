"""O8 integrity check: every referenced symbol exists before a run starts.

The reference validates, up front, that every script its orchestrator will
invoke actually exists on disk (src/utils/path_manager.py:259-342 — a
missing file should fail the run at minute zero, not at step 7 of the
nightly sync). The rebuild's executable units are Python symbols, not
script files, so the equivalent checks are:

1. every module of the package imports (a missing/renamed module fails
   loudly here, not mid-pipeline);
2. every ``module.py::symbol`` citation in COVERAGE.md resolves — the
   operator-inventory map the judge reads cannot drift from the code;
3. every ``tests/xx.py::test_fn`` citation names a real test function;
4. the driver contract holds: ``__spark_entry__.queries()`` exposes the
   whole registry, every entry is callable, and any oracle-less
   (rows-only) queries are listed for visibility.

Run: ``python scripts/check_integrity.py`` — prints one line per failure,
exits non-zero on any. Every check appends to one error list, and package
exceptions (including the registry's own duplicate-name ValueError) are
REPORTED, never allowed to crash the report (review r9). No SparkSession
is started (pure import/AST work), so this is cheap enough for CI and for
a pre-flight orchestrator hook.
"""

from __future__ import annotations

import ast
import importlib
import pkgutil
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

PKG = "fund_data_pipeline_spark"
# the optional parenthesized suffix covers parameterized citations like
# `dedup.py::dedup_keyed(keep="first")` — previously skipped silently
CITATION = re.compile(r"`([\w/.]+\.py)::([\w.]+)(?:\([^`]*\))?`")


def check_imports(errors: list[str]) -> list[str]:
    """Import every package module; returns the module names walked.

    ``walk_packages`` without ``onerror`` PROPAGATES non-ImportError
    exceptions (e.g. the registry's duplicate-name ValueError), which
    would crash the report before a single FAIL line — route every
    walk-time exception into ``errors`` instead (review r9)."""
    try:
        pkg = importlib.import_module(PKG)
    except Exception as e:  # noqa: BLE001 - report, never crash the report
        errors.append(f"package import failed: {PKG}: {e!r}")
        return []
    names = [PKG]
    for m in pkgutil.walk_packages(
        pkg.__path__,
        prefix=f"{PKG}.",
        onerror=lambda name: errors.append(f"package walk failed at: {name}"),
    ):
        names.append(m.name)
    for name in names:
        try:
            importlib.import_module(name)
        except Exception as e:  # noqa: BLE001
            errors.append(f"import failed: {name}: {e!r}")
    return names


def check_compile_warnings(errors: list[str]) -> int:
    """Compile every package + scripts + entry file with warnings as
    errors: an invalid string escape (e.g. a bare '\\s' in a docstring or
    policy table) is only a DeprecationWarning today but a SyntaxError on
    future CPython — and it lives in exactly the import path whose r9
    crash voided a whole round's driver artifacts (review r11: the r11
    rotation rewrite introduced one)."""
    import warnings

    n = 0
    files = [REPO / "__spark_entry__.py", REPO / "bench.py"]
    files += sorted((REPO / PKG).rglob("*.py")) + sorted((REPO / "scripts").glob("*.py"))
    for path in files:
        n += 1
        try:
            with warnings.catch_warnings():
                warnings.simplefilter("error")
                compile(path.read_text(), str(path), "exec")
        except SyntaxError as e:
            errors.append(f"compile (warnings-as-errors) failed: {path.relative_to(REPO)}: {e!r}")
        except Warning as e:
            errors.append(f"compile warning: {path.relative_to(REPO)}: {e!r}")
    return n


def _test_defines(path: Path, fn: str) -> bool:
    """True iff ``path`` defines ``fn`` (AST walk — test modules need the
    spark fixture, so importing them here would start a session)."""
    tree = ast.parse(path.read_text())
    return any(
        isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and node.name == fn
        for node in ast.walk(tree)
    )


def check_coverage_citations(errors: list[str]) -> int:
    text = (REPO / "COVERAGE.md").read_text()
    n = 0
    for rel, symbol in CITATION.findall(text):
        n += 1
        base = symbol.split(".")[0].split("(")[0]
        if rel.startswith("test_") or rel.startswith("tests/"):
            path = REPO / "tests" / Path(rel).name
            if not path.exists():
                errors.append(f"COVERAGE cites missing test file: {rel}")
            elif not _test_defines(path, base):
                errors.append(f"COVERAGE cites missing test: {rel}::{base}")
            continue
        # package-relative module path (COVERAGE's "Package root" contract)
        path = REPO / PKG / rel
        if not path.exists():
            errors.append(f"COVERAGE cites missing module file: {rel}")
            continue
        mod_name = f"{PKG}." + rel[: -len(".py")].replace("/", ".")
        try:
            mod = importlib.import_module(mod_name)
        except Exception as e:  # noqa: BLE001
            errors.append(f"COVERAGE-cited module failed to import: {rel}: {e!r}")
            continue
        if not hasattr(mod, base):
            errors.append(f"COVERAGE cites missing symbol: {rel}::{base}")
    return n


def check_driver_contract(errors: list[str]) -> list[str]:
    """Returns the names of rows-only (oracle-less) queries for visibility.

    Wrapped so a broken entry module reports instead of discarding every
    error the earlier checks accumulated (review r9)."""
    try:
        import __spark_entry__ as entry

        queries = entry.queries()
        oracles = entry.oracle_sql()
        from fund_data_pipeline_spark.queries import QUERIES
    except Exception as e:  # noqa: BLE001
        errors.append(f"driver entry import failed: {e!r}")
        return []
    if set(queries) != set(QUERIES):
        errors.append(
            "queries() keys diverge from the registry: "
            f"{sorted(set(queries) ^ set(QUERIES))}"
        )
    for name, fn in queries.items():
        if not callable(fn):
            errors.append(f"queries()[{name!r}] is not callable")
    for name, spec in QUERIES.items():
        if not callable(spec.spark):
            errors.append(f"registry entry {name!r} has no callable plan builder")
    # rows-only entries are ALLOWED by the driver contract (weaker check);
    # list them so a query silently losing its oracle is visible here
    return sorted(set(queries) - set(oracles))


def main() -> int:
    errors: list[str] = []
    # each check is individually guarded: a crash in one (missing
    # COVERAGE.md, syntax error in a cited test file) must not discard the
    # failures the earlier checks already accumulated (review r10)
    modules: list[str] = []
    n_cites = 0
    rows_only: list[str] = []
    n_compiled = 0
    try:
        modules = check_imports(errors)
    except Exception as e:
        errors.append(f"check_imports crashed: {e!r}")
    try:
        n_compiled = check_compile_warnings(errors)
    except Exception as e:
        errors.append(f"check_compile_warnings crashed: {e!r}")
    try:
        n_cites = check_coverage_citations(errors)
    except Exception as e:
        errors.append(f"check_coverage_citations crashed: {e!r}")
    try:
        rows_only = check_driver_contract(errors)
    except Exception as e:
        errors.append(f"check_driver_contract crashed: {e!r}")
    for e in errors:
        print(f"FAIL {e}")
    if rows_only:
        print(f"note: rows-only (oracle-less) queries: {rows_only}")
    print(
        f"{len(errors)} failures; checked {len(modules)} modules, "
        f"{n_compiled} files compiled warning-clean, "
        f"{n_cites} COVERAGE citations, driver contract"
    )
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
