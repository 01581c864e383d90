"""The two-tier suite's stale-key guard (tests/conftest.py)."""

from __future__ import annotations

import types

from tests.conftest import stale_slow_keys


def test_stale_slow_keys_checks_only_collected_files():
    mod = types.SimpleNamespace(test_present=lambda: None)
    keys = {
        "test_a.py::test_present",
        "test_a.py::test_renamed_away",
        "test_not_collected.py::test_anything",
    }
    assert stale_slow_keys(keys, {"test_a.py": mod}) == [
        "test_a.py::test_renamed_away"
    ]
    assert stale_slow_keys(keys, {}) == []
