"""Dead-definition guard: every top-level function and class in the
package must be referenced somewhere outside its own definition.

References are identifier tokens and words inside string literals
(query names reach the registry through ``@query("name")`` and
``all_queries()["name"]``); comments do not count. The search covers
the package, the tests, ``scripts/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py``, so a definition reached only by tests, such as
an encoder or a reference implementation a test compares against,
stays allowed.
"""

from __future__ import annotations

import ast
import io
import re
import tokenize
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "pipeline_mf_etl_spark"
_WORD = re.compile(r"[A-Za-z_]\w*")


def _search_files() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for sub in ("pipeline_mf_etl_spark", "tests", "scripts", "perfbench"):
        files += sorted((ROOT / sub).rglob("*.py"))
    return [f for f in files if f.exists()]


def _references(src: str):
    """(name, line) for every identifier and every word in a string."""
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type == tokenize.NAME:
            yield tok.string, tok.start[0]
        elif tok.type == tokenize.STRING or tok.type == getattr(
            tokenize, "FSTRING_MIDDLE", -1
        ):
            for m in _WORD.finditer(tok.string):
                yield m.group(), tok.start[0]


def test_no_unreferenced_top_level_definitions():
    where: dict[str, list[tuple[Path, int]]] = defaultdict(list)
    for path in _search_files():
        for name, line in _references(path.read_text()):
            where[name].append((path, line))
    dead = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            # decorator lines stay outside the span: a registering
            # decorator such as @query("name") is a reference
            own = range(node.lineno, node.end_lineno + 1)
            if all(p == path and ln in own for p, ln in where[node.name]):
                dead.append(f"{path.relative_to(ROOT)}:{node.lineno} {node.name}")
    assert not dead, "unreferenced definitions:\n" + "\n".join(dead)
