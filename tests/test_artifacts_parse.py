"""Every evidence artifact at the repository root parses: a ``*.json``
file is one JSON document, and each non-blank line of a ``*.jsonl``
file is one JSON document."""

from __future__ import annotations

import json
import pathlib

import pytest

ROOT = pathlib.Path(__file__).resolve().parent.parent


@pytest.mark.parametrize("path", sorted(ROOT.glob("*.json")), ids=lambda p: p.name)
def test_json_artifact_loads(path):
    json.loads(path.read_text())


@pytest.mark.parametrize("path", sorted(ROOT.glob("*.jsonl")), ids=lambda p: p.name)
def test_jsonl_artifact_lines_load(path):
    for n, line in enumerate(path.read_text().splitlines(), 1):
        if line.strip():
            try:
                json.loads(line)
            except json.JSONDecodeError as exc:
                pytest.fail(f"{path.name}:{n}: {exc}")
