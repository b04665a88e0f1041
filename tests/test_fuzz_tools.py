"""Wiring of the five fuzz tools' ``main``s (tools/fuzz_*.py).

The pinned fuzz tests check the queries over adversarial tables; this
checks the tools themselves: each ``main`` runs end to end on a tiny
input under a scratch root, reaches ``check_oracle.compare`` with a
non-empty query list over a directory it wrote, and exits 0. The
comparison is stubbed to record the names, so a tool's generation,
write, view and report steps all run in seconds; a break in any of them
(a shadowed import, a renamed helper) fails here instead of in a manual
sweep."""

from __future__ import annotations

import importlib
import os
import sys

import pytest

import tools.check_oracle

# (tool module, argv after the script name: the scratch root is the last)
TOOLS = [
    ("fuzz_oracle", ["12", "3"]),
    ("fuzz_events", ["40", "3"]),
    ("fuzz_embeddings", ["24", "3"]),
    ("fuzz_media", ["12", "3"]),
    ("fuzz_relational", ["3"]),
]


@pytest.mark.parametrize("tool, args", TOOLS, ids=[t for t, _ in TOOLS])
def test_fuzz_tool_main_runs_end_to_end(spark, monkeypatch, tmp_path, tool, args):
    calls = []

    def stub_compare(spark, con, names, data_dir):
        assert any(n.endswith(".parquet") for n in os.listdir(data_dir)), data_dir
        calls.append(list(names))
        return [], []

    monkeypatch.setattr(tools.check_oracle, "compare", stub_compare)
    monkeypatch.setattr(sys, "argv", [f"tools/{tool}.py", *args, str(tmp_path)])
    main = importlib.import_module(f"tools.{tool}").main
    assert main() == 0
    assert len(calls) == 1 and calls[0], calls
