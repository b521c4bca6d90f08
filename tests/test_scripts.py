"""The kept lab scripts stay runnable and the docs name only scripts that
exist.

Each script is imported by path, never run: every one guards ``main()``
behind ``__name__ == "__main__"``, so an import only resolves its
top-level names. That is enough to catch a script still importing an
engine name that was renamed or deleted.
"""

from __future__ import annotations

import importlib.util
import os
import re

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(REPO, "scripts")
DOCS = ("README.md", os.path.join(".claude", "skills", "verify", "SKILL.md"))


@pytest.mark.parametrize(
    "name", sorted(f for f in os.listdir(SCRIPTS) if f.endswith(".py"))
)
def test_script_imports(name):
    spec = importlib.util.spec_from_file_location(
        f"scripts_{name[:-3]}", os.path.join(SCRIPTS, name)
    )
    spec.loader.exec_module(importlib.util.module_from_spec(spec))


def test_docs_name_only_existing_scripts():
    missing = []
    for doc in DOCS:
        with open(os.path.join(REPO, doc), encoding="utf-8") as f:
            text = f.read()
        for path in sorted(set(re.findall(r"scripts/[\w.-]+\.(?:py|sh)", text))):
            if not os.path.isfile(os.path.join(REPO, path)):
                missing.append(f"{doc}: {path}")
    assert not missing, missing


def test_strict_parity_rejects_unknown_names():
    spec = importlib.util.spec_from_file_location(
        "scripts_strict_parity", os.path.join(SCRIPTS, "strict_parity.py")
    )
    strict_parity = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(strict_parity)

    with pytest.raises(KeyError, match="dedup_ngram_jacard"):
        strict_parity.oracled_specs({"dedup_ngram_jaccard", "dedup_ngram_jacard"})
    with pytest.raises(KeyError, match="agg_approx"):  # registered, no oracle
        strict_parity.oracled_specs({"agg_approx"})
    assert list(strict_parity.oracled_specs({"dedup_ngram_jaccard"})) == [
        "dedup_ngram_jaccard"
    ]
