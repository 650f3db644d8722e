"""No library code that only tests reach.

Every undecorated top-level def or class in ``tensei_agent_spark`` must
be named by some non-test Python file of the project: the library
itself, ``tools/``, ``perfbench/``, ``bench.py`` or
``__spark_entry__.py``. Its own ``def`` line does not count. Decorated
defs are exempt, because registration (``@register``, ``@query``) is
their caller. The allow-list holds the paper's public API (the
SchemaExtractor entry points and the spec, read and preflight helpers),
which callers outside this repository use.
"""

from __future__ import annotations

import ast
import os
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

PAPER_API = frozenset(
    {
        "extract_dfasdl_csv",
        "extract_dfasdl_json",
        "extract_dfasdl_sqlite",
        "source_spec",
        "target_spec",
        "read_table",
        "spec_from_csv",
        "assert_preflight",
    }
)

_WORD = re.compile(r"\w+")


def _caller_files() -> list[Path]:
    files = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    for d in ("tensei_agent_spark", "tools", "perfbench"):
        files += sorted((REPO / d).rglob("*.py"))
    return [
        f for f in files
        if f.exists() and not f.name.startswith("test_") and f.name != "conftest.py"
    ]


def _library_defs() -> list[tuple[Path, int, str]]:
    out = []
    for f in sorted((REPO / "tensei_agent_spark").rglob("*.py")):
        for node in ast.parse(f.read_text()).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.decorator_list
            ):
                out.append((f, node.lineno, node.name))
    return out


def test_every_library_def_has_a_non_test_caller():
    defs = _library_defs()
    names = {name for _, _, name in defs}
    # name -> every (file, line) where it occurs as a whole word
    seen: dict[str, set[tuple[Path, int]]] = {n: set() for n in names}
    for f in _caller_files():
        for lineno, line in enumerate(f.read_text().splitlines(), 1):
            for word in set(_WORD.findall(line)) & names:
                seen[word].add((f, lineno))
    orphans = sorted(
        f"{os.path.relpath(f, REPO)}:{lineno} {name}"
        for f, lineno, name in defs
        if name not in PAPER_API and not (seen[name] - {(f, lineno)})
    )
    assert not orphans, (
        "defs that only tests reach (delete them, or give them a caller):\n"
        + "\n".join(orphans)
    )
