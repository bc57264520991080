"""Comments and docstrings state invariants and measured reasons, not
the history of how the code got there; that history lives in git and
SCALE.md. This test fails on a round or review marker in a comment or a
docstring of the package, ``bench.py``, ``__spark_entry__.py`` or
``scripts/``. Other string literals (oracle SQL, e.g. a CTE named
``r0``) are not prose and are not scanned."""

from __future__ import annotations

import ast
import io
import re
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MARKER = re.compile(r"\br[0-9]{1,2}\b|round[- ][0-9]+|VERDICT|ADVICE|guide §")


def _sources() -> list[Path]:
    return sorted(
        [
            *(ROOT / "muurschilderingendatabase_etl_spark").rglob("*.py"),
            *(ROOT / "scripts").glob("*.py"),
            ROOT / "bench.py",
            ROOT / "__spark_entry__.py",
        ]
    )


def _prose(src: str) -> list[tuple[int, str]]:
    """(line, text) of every comment and docstring in ``src``."""
    out = [
        (tok.start[0], tok.string)
        for tok in tokenize.generate_tokens(io.StringIO(src).readline)
        if tok.type == tokenize.COMMENT
    ]
    for node in ast.walk(ast.parse(src)):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            doc = ast.get_docstring(node, clean=False)
            if doc is not None:
                out.append((node.body[0].lineno, doc))
    return out


def test_no_round_history_markers_in_prose():
    # the scan itself: a marker in a comment counts, one in a
    # non-docstring literal (an oracle CTE) does not
    assert [t for _, t in _prose("# r7 fix\nx = 1\n") if MARKER.search(t)]
    sql = 'def f():\n    """ok"""\n    return "WITH r0 AS (SELECT 1)"\n'
    assert not [t for _, t in _prose(sql) if MARKER.search(t)]

    hits = [
        f"{path.relative_to(ROOT)}:{line}: {m.group(0)!r}"
        for path in _sources()
        for line, text in _prose(path.read_text())
        for m in MARKER.finditer(text)
    ]
    assert not hits, "round-history markers in comments/docstrings:\n" + "\n".join(
        hits
    )
