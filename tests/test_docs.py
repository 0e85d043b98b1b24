"""The live documents point only at files that exist.

README.md, COVERAGE.md and the verify skill tell readers which scripts,
tests and notes to use. Every backticked word there that names a repo
path (``scripts/``, ``tests/``, ``perfbench/``, ``seafan_spark/``) or an
upper-case root ``*.md`` / ``*.json`` file must exist, so deleting a file
cannot leave a document citing it. Words with a placeholder (``<``,
``*``, ``{``) are patterns, not paths, and are skipped.
"""
from __future__ import annotations

import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = ["README.md", "COVERAGE.md", ".claude/skills/verify/SKILL.md"]
PATH_PREFIXES = ("scripts/", "tests/", "perfbench/", "seafan_spark/")
ROOT_FILE = re.compile(r"[A-Z][A-Za-z0-9_]*\.(md|json)")
FENCE = re.compile(r"^```.*?^```", re.M | re.S)
SPAN = re.compile(r"`([^`\n]+)`")


def cited_paths(text: str) -> list[str]:
    """Repo paths named by the inline code spans of a markdown text."""
    out = []
    for span in SPAN.findall(FENCE.sub("", text)):
        for word in span.split():
            if any(c in word for c in "<*{"):
                continue
            # a test id or a line reference names the file before the colon
            word = word.split("::")[0]
            word = re.sub(r":\d+(-\d+)?$", "", word)
            if word.startswith(PATH_PREFIXES) or ROOT_FILE.fullmatch(word):
                out.append(word)
    return out


def missing_paths(text: str, root: str = REPO) -> list[str]:
    return sorted({p for p in cited_paths(text) if not os.path.exists(os.path.join(root, p))})


@pytest.mark.parametrize("doc", DOCS)
def test_doc_cites_only_existing_files(doc):
    with open(os.path.join(REPO, doc), encoding="utf-8") as fh:
        text = fh.read()
    assert cited_paths(text), f"{doc} cites no repo path; the check would be vacuous"
    assert missing_paths(text) == [], f"{doc} cites files that do not exist"


def test_check_catches_a_deleted_script(tmp_path):
    (tmp_path / "scripts").mkdir()
    (tmp_path / "scripts" / "check_oracle.py").write_text("")
    (tmp_path / "BENCHMARK.json").write_text("{}")
    text = (
        "Run `python scripts/check_oracle.py /data` and `scripts/deleted_tool.py`;\n"
        "see `BENCHMARK.json`, `GONE.md` and `tests/test_plans.py::test_x`.\n"
        "Patterns are skipped: `perfbench/out/spans-<workload>.json`, `CORRECTNESS_r{N}.json`.\n"
        "```bash\npython scripts/old.py   # fenced blocks are not spans\n```\n"
    )
    assert missing_paths(text, str(tmp_path)) == [
        "GONE.md", "scripts/deleted_tool.py", "tests/test_plans.py",
    ]
