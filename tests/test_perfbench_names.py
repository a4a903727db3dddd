"""perfbench's traced run (``--trace 1``) times the ingest path by
swapping wrappers over module-level names (``perfbench/tracing.py::
WRAPPED``). A refactor that moves or renames one of them would break the
traced run; this pins that each name still resolves. No Spark session."""

from __future__ import annotations

import importlib
import importlib.util
from pathlib import Path

TRACING = Path(__file__).resolve().parents[1] / "perfbench" / "tracing.py"


def test_traced_names_resolve():
    spec = importlib.util.spec_from_file_location("perfbench_tracing", TRACING)
    tracing = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tracing)
    assert tracing.WRAPPED
    for module, attr, span in tracing.WRAPPED:
        target = getattr(importlib.import_module(module), attr, None)
        assert callable(target), f"{span}: {module}.{attr} does not resolve"
