"""The operator-facing docs name only scripts that exist.

README.md and the verify skill tell an operator which ``tools/`` and
``perfbench/`` scripts to run; a path left behind after its script is
deleted sends them to a file that is not there.
"""

from __future__ import annotations

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
DOCS = ["README.md", ".claude/skills/verify/SKILL.md"]
SCRIPT = re.compile(r"(?<![\w/.-])(?:tools|perfbench)/[\w/.-]*?\.py\b")


def test_operator_docs_name_existing_scripts():
    named = {
        (doc, path)
        for doc in DOCS
        for path in SCRIPT.findall((ROOT / doc).read_text())
    }
    assert named, "no tools/ or perfbench/ script named: the pattern is stale"
    missing = sorted(f"{doc}: {path}" for doc, path in named if not (ROOT / path).is_file())
    assert not missing, f"docs name scripts that do not exist: {missing}"
