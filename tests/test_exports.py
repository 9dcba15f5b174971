"""The operators package resolves its public names lazily from the
``_EXPORTS`` map, so a stale entry (a renamed or deleted operator) only
fails when a user imports it. Resolve every name up front."""

import invoice_extraction_spark.operators as ops


def test_every_operator_export_resolves():
    unresolved = []
    for name in ops.__all__:
        try:
            getattr(ops, name)
        except (AttributeError, ImportError) as e:
            unresolved.append(f"{name}: {e}")
    assert not unresolved, unresolved


def test_every_entry_point_import_resolves():
    """Jobs, scripts and the bench/driver entry files import package names
    that no test runs: walk every ``from invoice_extraction_spark... import
    name`` in them and resolve it, so deleting a function cannot leave a
    script importing it."""
    import ast
    import importlib
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    files = [
        *sorted((root / "jobs").glob("*.py")),
        *sorted((root / "scripts").glob("*.py")),
        root / "bench.py",
        root / "bench_extra.py",
        root / "__spark_entry__.py",
    ]
    unresolved = []
    for path in files:
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and (node.module or "").split(".")[0] == "invoice_extraction_spark"
            ):
                continue
            where = f"{path.relative_to(root)}:{node.lineno}"
            try:
                mod = importlib.import_module(node.module)
            except ImportError as e:
                unresolved.append(f"{where} {node.module}: {e}")
                continue
            for alias in node.names:
                if hasattr(mod, alias.name):
                    continue
                try:  # a submodule is importable without being an attribute
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ImportError:
                    unresolved.append(f"{where} {node.module}.{alias.name}")
    assert not unresolved, unresolved
