"""The driver-verification ledger is current (no Spark needed).

The registry registers stalest-first from `rotation.LAST_CHECKED`, so a
ledger that stops short of the newest CORRECTNESS artifact schedules the
queries that round already checked. After an artifact lands, run
`python scripts/update_rotation.py` and commit rotation.py and ROTATION.md.
"""

from __future__ import annotations

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent


def _newest_artifact_round() -> int:
    return max(
        int(re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name).group(1))
        for p in ROOT.glob("CORRECTNESS_r*.json")
    )


def test_ledger_includes_the_newest_correctness_round():
    tree = ast.parse((ROOT / "pandaspark/queries/rotation.py").read_text())
    (ledger,) = (
        ast.literal_eval(n.value)
        for n in tree.body
        if isinstance(n, ast.Assign) and n.targets[0].id == "LAST_CHECKED"
    )
    rotation_md = (ROOT / "ROTATION.md").read_text()
    md_rounds = [int(r) for r in re.findall(r"^\| r(\d+) \|", rotation_md, re.MULTILINE)]
    newest = _newest_artifact_round()
    assert max(ledger.values()) == newest
    assert max(md_rounds) == newest
