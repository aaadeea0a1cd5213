"""The plan-hygiene audit as a CI gate: a future plan regression (a new
shuffle exchange, a second ArrowEvalPython stage, a lost pushdown or
pruning, a codegen compile failure) fails pytest, not just the opt-in
``tools/explain_plans.py`` run. The audit asserts the shapes that
matter at 100 TB — broadcast cover join with zero fact-side exchanges,
single Arrow refine stage, map-only PBF decode — so this is the
scale-regression tripwire."""

import tools.explain_plans as audit


def test_plan_audit_all_healthy(spark, sf_dir, capsys):
    rc = audit.main(sf_dir)
    out = capsys.readouterr().out
    assert rc == 0, f"plan audit failures:\n{out}"
    assert "ALL PLANS HEALTHY" in out
