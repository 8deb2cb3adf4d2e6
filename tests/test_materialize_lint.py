"""One lineage-cut and block-release policy: every ``localCheckpoint`` /
``checkpoint`` cut goes through ``p6_spark.materialize.materialize`` and
every py4j ``getPersistentRDDs`` drain through ``release``. A direct call
anywhere else silently bypasses the policy — e.g. ignores a configured
checkpoint dir, so that cut's blocks die with their executor on a
cluster — so this gate turns "route it through materialize.py" into a
red test.

Scope: the engine (``p6_spark/``), ``bench.py`` and ``scripts/``.
Tests may cut directly: they build fixtures, not engine plans.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PRIMITIVE = ROOT / "p6_spark" / "materialize.py"

_BANNED = {"localCheckpoint", "checkpoint", "getPersistentRDDs"}


def _banned_calls(tree: ast.AST):
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in _BANNED
        ):
            yield node.lineno, node.func.attr


def test_cuts_and_drains_only_in_materialize():
    files = (
        list((ROOT / "p6_spark").rglob("*.py"))
        + [ROOT / "bench.py"]
        + list((ROOT / "scripts").rglob("*.py"))
    )
    offenders = [
        f"{path.relative_to(ROOT)}:{lineno} — .{attr}()"
        for path in files
        if path != PRIMITIVE
        for lineno, attr in _banned_calls(ast.parse(path.read_text()))
    ]
    assert not offenders, (
        "direct lineage cut or block drain outside p6_spark/materialize.py; "
        "call materialize(df, eager) or release(spark) instead:\n"
        + "\n".join(offenders)
    )


def test_lint_selfcheck_catches_a_planted_offender():
    """The AST scan must see every banned call form, including a chained
    one, and ignore the names in comments and strings — guard against
    the gate rotting into a no-op."""
    planted = ast.parse(
        "a = df.select('x').localCheckpoint()\n"
        "b = df.checkpoint(eager=False)\n"
        "c = sc._jsc.getPersistentRDDs().values()\n"
        "d = 'localCheckpoint()'  # .checkpoint()\n"
    )
    assert sorted(attr for _, attr in _banned_calls(planted)) == [
        "checkpoint",
        "getPersistentRDDs",
        "localCheckpoint",
    ]
    assert list(_banned_calls(ast.parse(PRIMITIVE.read_text())))
