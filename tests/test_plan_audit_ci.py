"""Plan-hygiene CI gate (VERDICT r11 #8): the tools/plan_audit.py
antipattern scan, run as a pytest over the active driver window's
code-changed queries (``_CODE_CHANGED``), so a cartesian product or an
accidental global-funnel window can never land between judge rounds.
Hard findings fail; soft findings print (the full-registry sweep stays a
manual tool because building all 282 plans takes minutes).
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import plan_audit  # noqa: E402

from climate_anomaly_bigdata_pipeline_spark.queries import (  # noqa: E402
    QUERIES,
    _CODE_CHANGED,
)


def test_round_additions_have_clean_plans(spark, sf_dir):
    hard: list[str] = []
    soft: list[str] = []
    for name in _CODE_CHANGED:
        plan = plan_audit.plan_of(QUERIES[name](spark, sf_dir))
        for f in plan_audit.audit(name, plan):
            if name in plan_audit.ALLOWED:
                continue
            (hard if f.startswith("HARD") else soft).append(f"{name}: {f}")
    for s in soft:
        print("soft", s)
    assert not hard, hard


def test_plan_audit_cli_fails_on_unbuildable_query(spark, sf_dir, monkeypatch, capsys):
    """A query that does not build (here: an unknown name) must fail the
    CLI audit instead of passing with zero hard findings."""
    monkeypatch.setattr(plan_audit, "get_spark", lambda app_name: spark)
    monkeypatch.setattr(sys, "argv", ["plan_audit.py", sf_dir, "no_such_query"])
    assert plan_audit.main() == 1
    assert "ERROR no_such_query" in capsys.readouterr().out
