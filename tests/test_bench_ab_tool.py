"""tools/bench_ab.py arbitrates performance claims, so a crashed twin
must fail the run loudly instead of printing empty sample lists. No
Spark: the twins fail at import."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(__file__), os.pardir, "tools")
)

import bench_ab  # noqa: E402


def test_failing_twin_exits_nonzero_and_names_arm(tmp_path, monkeypatch, capsys):
    tree_a = tmp_path / "a"
    tree_b = tmp_path / "b"
    tree_a.mkdir()
    tree_b.mkdir()
    # Neither tree holds tensei_agent_spark, so each twin dies on import;
    # the box-weather probe is irrelevant here and skipped.
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.setattr(bench_ab, "probe", lambda: "{}")
    with pytest.raises(SystemExit) as exc:
        bench_ab.main(
            [str(tree_a), str(tree_b), "dedup_ngram_jaccard", "--reps", "1"]
        )
    assert exc.value.code not in (0, None)
    assert f"arm A ({tree_a})" in str(exc.value.code)
    assert "tensei_agent_spark" in capsys.readouterr().err
