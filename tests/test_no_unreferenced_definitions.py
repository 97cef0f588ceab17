"""Every top-level definition in the package is named somewhere.

An AST scan lists the package's module-level functions and classes, then
counts each name as a whole word over the package, ``tests/``,
``perfbench/``, ``bench.py`` and ``__spark_entry__.py``. A definition
whose name occurs no more often than it is defined is referenced nowhere:
delete it or use it. Any occurrence counts (a call, an import, a string
registration, a docstring), so the scan never flags code reached through
a name held in a string.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "mysoftware_nocnetintel_spark"
_WORD = re.compile(r"\w+")


def _sources() -> list[Path]:
    files = [*PACKAGE.rglob("*.py"), *(ROOT / "tests").rglob("*.py")]
    files += (ROOT / "perfbench").rglob("*.py")
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    return files


def unreferenced_definitions() -> list[str]:
    words: Counter[str] = Counter()
    defined: Counter[str] = Counter()
    where: dict[str, str] = {}
    for path in _sources():
        text = path.read_text(encoding="utf-8")
        words.update(_WORD.findall(text))
        if PACKAGE not in path.parents:
            continue
        for node in ast.parse(text).body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defined[node.name] += 1
                where[node.name] = f"{path.relative_to(ROOT)}:{node.name}"
    return sorted(
        where[name] for name, n in defined.items() if words[name] <= n
    )


def test_every_top_level_definition_is_referenced():
    assert unreferenced_definitions() == []
