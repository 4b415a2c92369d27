"""Every engine module compiles with warnings as errors.

Invalid string escapes (``'\\s'`` in a non-raw oracle string) are a
DeprecationWarning on 3.11, a SyntaxWarning on 3.12 and slated to become
errors; compiling each source with warnings raised keeps them out.
"""

from __future__ import annotations

import warnings
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "etl_asana_spark"


def test_package_compiles_without_warnings():
    sources = sorted(PKG.rglob("*.py"))
    assert sources
    problems = []
    for path in sources:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            try:
                compile(path.read_text(encoding="utf-8"), str(path), "exec")
            except (SyntaxError, Warning) as exc:
                problems.append(f"{path.relative_to(PKG.parent)}: {exc}")
    assert not problems, problems
