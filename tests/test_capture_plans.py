"""capture_plans.plan_summary counts every operator of the tree section,
including scan nodes rendered with an empty or dotted table-name slot."""

from __future__ import annotations

from capture_plans import plan_summary, refooter

_PLAN = """== Physical Plan ==
AdaptiveSparkPlan (8)
+- Project (7)
   +- BroadcastHashJoin Inner BuildRight (6)
      :- Filter (2)
      :  +- Scan parquet  (1)
      +- BroadcastExchange (5)
         +- Scan parquet spark_catalog.default.t_x (4)

(1) Scan parquet
"""


def test_plan_summary_counts_scan_nodes():
    summary = plan_summary(_PLAN)
    assert "Scan parquet=2" in summary
    assert "BroadcastHashJoin=1" in summary
    assert "total_unique_nodes=7" in summary


def test_refooter_replaces_a_stale_footer(tmp_path):
    path = tmp_path / "q_after.txt"
    path.write_text(_PLAN + "\n== NORMALIZED SUMMARY (stale) ==\ntotal_unique_nodes=5\n")
    refooter(str(path))
    text = path.read_text()
    assert text == _PLAN + plan_summary(_PLAN)
    assert text.count("NORMALIZED SUMMARY") == 1
