"""One copy of every fragment in the engine.

A run of ``WINDOW`` identical lines appearing twice in ``p6_spark/`` is a
pasted copy: an oracle SQL twin, a Spark sub-plan or a constant table that
two places must now keep in step by hand (a missed copy quietly certifies a
different algorithm). Shared DuckDB twins live in ``plans/twins.py``;
shared Spark sub-plans live next to the operator they belong to.

Lines are compared stripped. Blank lines, comment-only lines and lines made
only of brackets and separators are skipped, so re-indenting a copy or
closing it differently does not hide it.
"""

from __future__ import annotations

import ast
import pathlib
import re
from collections import defaultdict

ROOT = pathlib.Path(__file__).resolve().parents[1]
PLANS = ROOT / "p6_spark" / "plans"
TWINS = PLANS / "twins.py"
WINDOW = 10

_LONE_BRACKETS = re.compile(r"^[()\[\]{},;:]*$")


def _kept_lines(text: str) -> list[tuple[int, str]]:
    kept = []
    for lineno, line in enumerate(text.splitlines(), 1):
        s = line.strip()
        if s and not s.startswith("#") and not _LONE_BRACKETS.match(s):
            kept.append((lineno, s))
    return kept


def repeated_windows(files: dict[str, str]) -> dict[tuple[str, ...], list[str]]:
    """Every WINDOW-line run (over kept lines) found more than once, with
    the ``file:line`` where each occurrence starts."""
    seen: dict[tuple[str, ...], list[str]] = defaultdict(list)
    for name, text in files.items():
        kept = _kept_lines(text)
        for j in range(len(kept) - WINDOW + 1):
            run = tuple(s for _, s in kept[j : j + WINDOW])
            seen[run].append(f"{name}:{kept[j][0]}")
    return {run: at for run, at in seen.items() if len(at) > 1}


def test_no_repeated_windows_in_engine():
    files = {
        str(p.relative_to(ROOT)): p.read_text()
        for p in sorted((ROOT / "p6_spark").rglob("*.py"))
    }
    repeated = repeated_windows(files)
    assert not repeated, (
        f"{len(repeated)} runs of {WINDOW} identical lines appear more than "
        "once; move the shared SQL into plans/twins.py or the shared Spark "
        "sub-plan into one function:\n"
        + "\n".join(", ".join(at) for at in sorted(repeated.values())[:20])
    )


def test_copy_gate_selfcheck_catches_a_planted_offender():
    """The scan must see a copy through re-indentation, comments and
    bracket-only lines, and must not see one that differs in a line —
    guard against the gate rotting into a no-op."""
    block = "\n".join(f"x{i} = f({i})" for i in range(WINDOW))
    disguised = "    " + block.replace("\n", "\n    ").replace(
        "x4 = f(4)", "x4 = f(4)\n\n    # note\n    )"
    )
    assert list(repeated_windows({"a.py": block, "b.py": disguised}).values()) == [
        ["a.py:1", "b.py:1"]
    ]
    assert not repeated_windows({"a.py": block, "b.py": block.replace("x5", "y5")})


def test_plan_modules_share_twins_not_private_names():
    """Plan modules take shared SQL from plans/twins.py: no plan module
    imports a private ``_sql_*``/``_SQL_*`` name from another one, and the
    token and md5 SQL constants are assigned only in twins.py."""
    from p6_spark.plans.twins import SQL_MD5INT, SQL_TOKENS

    offenders = []
    for path in sorted(PLANS.glob("*.py")):
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "p6_spark.plans"
            ):
                offenders += [
                    f"{path.name}:{node.lineno} imports {a.name}"
                    for a in node.names
                    if a.name.lower().startswith("_sql")
                ]
            if path != TWINS and isinstance(node, ast.Assign):
                if isinstance(node.value, ast.Constant) and node.value.value in (
                    SQL_TOKENS,
                    SQL_MD5INT,
                ):
                    offenders.append(f"{path.name}:{node.lineno} redefines a twins constant")
    assert not offenders, "\n".join(offenders)
