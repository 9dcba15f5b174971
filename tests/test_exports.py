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
