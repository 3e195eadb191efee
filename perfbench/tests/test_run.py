"""The runner's bookkeeping of untraced walls for the tracing overhead.

    python3 -m pytest perfbench/tests -q
"""

import run


def _record(code, seed, wall):
    run._record_untraced("queries", code, seed, {"walls": [wall]})


def test_untraced_walls_are_those_of_the_same_code(tmp_path, monkeypatch):
    monkeypatch.setattr(run, "CACHE", tmp_path)
    (tmp_path / "results").mkdir()
    assert run._untraced_walls("queries", "new", 1) == []
    _record("old", 1, 50.0)
    _record("new", 2, 60.0)
    _record("new", 3, 62.0)
    # no wall of seed 1 from this code: every seed of this code, never the old code's
    assert run._untraced_walls("queries", "new", 1) == [60.0, 62.0]
    _record("new", 1, 61.0)
    assert run._untraced_walls("queries", "new", 1) == [61.0]
    assert run._untraced_walls("queries", "other", 1) == []
