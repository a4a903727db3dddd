"""No comment or docstring cites a test that does not exist.

Scans the program, benchmark, tool and test sources for citations of the
form ``tests/<file>.py`` or ``tests/<file>.py::<name>[::<name>]`` and
checks that each cited file exists and each cited name is a function or
class defined in it. Runs without a Spark session.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCANNED = ["data_ingestion_lambda_spark", "perfbench", "tools", "tests", "bench.py"]
CITATION = re.compile(r"tests/(test_\w+\.py)((?:::\w+)*)")


def _sources() -> list[Path]:
    out = []
    for entry in SCANNED:
        path = ROOT / entry
        out.extend(sorted(path.rglob("*.py")) if path.is_dir() else [path])
    return out


def _defined_names(test_file: Path) -> set[str]:
    tree = ast.parse(test_file.read_text())
    return {
        node.name
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }


def test_every_cited_test_exists():
    sources = _sources()
    assert len(sources) > 100  # the scan found the code base
    broken = []
    n_citations = 0
    for src in sources:
        for lineno, line in enumerate(src.read_text().splitlines(), 1):
            for m in CITATION.finditer(line):
                n_citations += 1
                where = f"{src.relative_to(ROOT)}:{lineno}"
                cited = ROOT / "tests" / m.group(1)
                if not cited.is_file():
                    broken.append(f"{where} cites missing {m.group(0)}")
                    continue
                names = [n for n in m.group(2).split("::") if n]
                missing = [n for n in names if n not in _defined_names(cited)]
                if missing:
                    broken.append(f"{where} cites {m.group(0)}: {missing} not defined")
    assert n_citations > 0
    assert not broken, "\n".join(broken)
