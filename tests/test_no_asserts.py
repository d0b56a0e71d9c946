"""No safety check in the package may rest on ``assert``: ``python -O``
(or ``PYTHONOPTIMIZE`` on an executor) strips every assert statement,
so a guard on outside input or on an argument must raise explicitly."""

from __future__ import annotations

import ast
from pathlib import Path

import biodiversity_data_ingestion_spark as pkg

ALLOWED: set[str] = set()


def test_no_assert_statements_outside_the_decoders():
    root = Path(pkg.__file__).parent
    found = []
    for path in sorted(root.rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        if rel in ALLOWED:
            continue
        tree = ast.parse(path.read_text(), filename=str(path))
        found += [
            f"{rel}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Assert)
        ]
    assert not found, f"assert used as a check: {found}"
