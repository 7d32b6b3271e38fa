"""Behavior pins for tools/mirror_nobroadcast.py, the broadcast-off
oracle mirror: it must exit nonzero on any FAILING row and on a drift
from the expected PASS / ROWS_ONLY counts, not merely on failures.

The tool builds its session and runs the mirror inside main(), so the
tests monkeypatch those engine entry points and check the exit code.
"""

from __future__ import annotations

import importlib
import sys

import pytest


@pytest.fixture()
def nobroadcast(monkeypatch):
    """Import tools/mirror_nobroadcast.py fresh with the engine modules
    it pulls inside main() patched out (no JVM in unit tests)."""
    import os
    from types import SimpleNamespace

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    monkeypatch.syspath_prepend(os.path.join(repo, "tools"))
    mod = importlib.import_module("mirror_nobroadcast")

    import shared_solar_data_warehouse_spark.mirror as mirror
    import shared_solar_data_warehouse_spark.session as session

    def patch(npass, nrows, bad):
        fake_spark = SimpleNamespace(
            conf=SimpleNamespace(
                get=lambda key: "-1"
                if key == "spark.sql.autoBroadcastJoinThreshold"
                else None
            )
        )
        monkeypatch.setattr(session, "get_session", lambda *a, **kw: fake_spark)
        monkeypatch.setattr(mirror, "run_mirror", lambda *a, **kw: [])
        monkeypatch.setattr(mirror, "summarize", lambda results: (npass, nrows, bad))

    return mod, patch


def test_nobroadcast_green_on_expected_counts(nobroadcast, monkeypatch):
    mod, patch = nobroadcast
    patch(npass=371, nrows=4, bad=[])
    monkeypatch.setattr(sys, "argv", ["mirror_nobroadcast.py"])
    assert mod.main() == 0


def test_nobroadcast_fails_on_count_drift_without_failures(
    nobroadcast, monkeypatch, capsys
):
    """ADVICE r9: a 370/5 drift with zero FAILING rows must exit nonzero —
    'PASS = the same 371/4/0 summary', not merely 'no failures'."""
    mod, patch = nobroadcast
    patch(npass=370, nrows=5, bad=[])
    monkeypatch.setattr(sys, "argv", ["mirror_nobroadcast.py"])
    assert mod.main() == 2
    assert "count drift: got 370/5, expected 371/4" in capsys.readouterr().out


def test_nobroadcast_failing_rows_still_exit_1(nobroadcast, monkeypatch):
    mod, patch = nobroadcast
    patch(npass=370, nrows=4, bad=[{"name": "x", "status": "FAIL"}])
    monkeypatch.setattr(sys, "argv", ["mirror_nobroadcast.py"])
    assert mod.main() == 1


def test_nobroadcast_expect_flags_override(nobroadcast, monkeypatch):
    mod, patch = nobroadcast
    patch(npass=370, nrows=5, bad=[])
    monkeypatch.setattr(
        sys,
        "argv",
        ["mirror_nobroadcast.py", "--expect-pass", "370", "--expect-rows-only", "5"],
    )
    assert mod.main() == 0
