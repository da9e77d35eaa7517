"""The window-site scale audit is enforced: every Window.partitionBy /
Window.orderBy site in the package must carry a classification in
tools/window_audit.py (round-9 verdict ask #3). A new per-key window
without a scale story — dispatch, documented bound, or explicit
caveat — fails here; so does a stale rule left behind by a refactor."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))


def test_every_window_site_is_classified():
    import window_audit

    rows, errors = window_audit.audit()
    assert not errors, "\n".join(errors)
    assert rows, "scanner found no window sites — regex broke?"


def test_growth_class_sites_are_dispatched_or_bounded():
    """No site may remain unclassified-growth: every class in the table
    is one of the closed set (dispatch, bound, caveat, internal)."""
    import window_audit

    allowed = {
        "dispatched",
        "segmented-internal",
        "bucket-bounded",
        "entity-bounded",
        "config-bounded",
        "topk-grouplimit",
        "guard-unordered",
        "single-series",
        "helper",
        "diagnostic",
    }
    rows, _ = window_audit.audit()
    bad = [r for r in rows if r["cls"] not in allowed]
    assert not bad, bad


def test_committed_audit_document_is_current():
    """docs/WINDOW_AUDIT.md names sites by line number, so any edit above
    a window site moves them; rerun `python tools/window_audit.py`."""
    import window_audit

    assert window_audit.DOC.read_text() == window_audit.render()
