"""Fresh-plan perf regression tripwire (r12, VERDICT r11 item 6):
pure-python checks of the entry flattening and the normalized
flagging rule — the git/bench plumbing is exercised by the ladder."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import perf_tripwire
from bcdp_spark.plans import normalize
from perf_tripwire import (
    THRESHOLD,
    _fresh_entries,
    _warm_entries,
    flag_regressions,
    tag_mismatches,
    warn_warm_drift,
)


def test_normalize_plan_ignores_expression_id_renumbering():
    """Dumps regenerated in a different process renumber every
    attribute; the comparison must see through that or every round-end
    refresh would silently disarm the gate. The tripwire compares dumps
    with the same ``normalize`` as ``tools/dump_plans.py --check``."""
    assert perf_tripwire.normalize is normalize
    a = "Output [2]: [event_type#13713, value#13714]\nArguments: x, [plan_id=60]"
    b = "Output [2]: [event_type#13969, value#13970]\nArguments: x, [plan_id=74]"
    c = "Output [2]: [event_type#13969, OTHER#13970]\nArguments: x, [plan_id=74]"
    assert normalize(a) == normalize(b)
    assert normalize(a) != normalize(c)


def test_fresh_entries_exclude_warm_numbers():
    payload = {
        "queries": {"q_a": 0.01},          # warm — must NOT be gated
        "queries_fresh": {"q_a": 0.2},
        "sf1": {
            "queries": {"q_a": 0.02},
            "queries_fresh": {"q_a": 0.5},
        },
        "sf10": {
            # sf10's headline "queries" IS the fresh-plan metric
            "queries": {"q_big": 5.0},
            "stage_reuse_queries": {"q_big": 0.03},
        },
    }
    out = _fresh_entries(payload)
    assert out == {"sf0.1:q_a": 0.2, "sf1:q_a": 0.5, "sf10:q_big": 5.0}


def test_single_key_regression_flagged_same_host():
    prev = {"a": 1.0, "b": 1.0, "c": 1.0, "d": 1.0, "e": 1.0}
    cur = dict(prev, c=1.5)  # 50% regression, others flat
    ratios, host, flagged = flag_regressions(cur, prev, list(prev))
    assert host == 1.0
    assert set(flagged) == {"c"}
    assert ratios["c"] == 1.5


def test_uniform_host_slowdown_not_flagged():
    prev = {k: 1.0 for k in "abcde"}
    cur = {k: 1.4 for k in "abcde"}  # 40% slower box, every key
    _, host, flagged = flag_regressions(cur, prev, list(prev))
    assert abs(host - 1.4) < 1e-9
    assert flagged == {}


def test_regression_on_slower_host_still_flagged():
    prev = {k: 1.0 for k in "abcde"}
    cur = {k: 1.3 for k in "abcde"}
    cur["b"] = 1.3 * (THRESHOLD + 0.1)  # real regression on top of host factor
    _, host, flagged = flag_regressions(cur, prev, list(prev))
    assert set(flagged) == {"b"}


def test_floor_bound_key_ratio_noise_not_flagged():
    """A session-floor key (~0.2 s) moving 50% is noise, not a
    regression: the absolute-excess floor keeps the ratio gate from
    amplifying it (measured: identical-config fresh processes span
    0.33-0.89 s min-of-7 on such keys)."""
    prev = {"floor": 0.2, "b": 1.0, "c": 1.0, "d": 1.0, "e": 1.0}
    cur = dict(prev, floor=0.3)  # 1.5x but only +0.1 s
    _, _, flagged = flag_regressions(cur, prev, list(prev))
    assert flagged == {}


def test_zero_prev_entry_skipped():
    prev = {"a": 0.0, "b": 1.0, "c": 1.0}
    cur = {"a": 9.9, "b": 1.0, "c": 1.0}
    ratios, _, flagged = flag_regressions(cur, prev, list(prev))
    assert "a" not in ratios and flagged == {}


def test_small_sample_uses_plain_ratio_rule():
    """r13 (ADVICE r12): with <5 plan-unchanged entries the median
    self-masks (1 entry: median == its own ratio; 2-3: a regression
    inflates the median enough to hide itself). Small samples must fall
    back to host_factor=1.0 so a lone 1.5x regression still flags."""
    prev = {"a": 1.0}
    cur = {"a": 1.6}
    ratios, host, flagged = flag_regressions(cur, prev, ["a"])
    assert host == 1.0
    assert set(flagged) == {"a"}
    # two keys, one regressed: previously median 1.3 hid it
    prev2 = {"a": 1.0, "b": 1.0}
    cur2 = {"a": 1.6, "b": 1.0}
    _, host2, flagged2 = flag_regressions(cur2, prev2, ["a", "b"])
    assert host2 == 1.0
    assert set(flagged2) == {"a"}


def test_warm_entries_cover_sf01_and_sf1_warm():
    payload = {
        "queries": {"q_a": 0.03},
        "queries_fresh": {"q_a": 0.2},
        "sf1": {"queries": {"q_a": 0.05}, "queries_fresh": {"q_a": 0.5}},
    }
    assert _warm_entries(payload) == {"sf0.1:q_a": 0.03, "sf1:q_a": 0.05}


def test_warm_drift_alert_fires_on_r12_sim_knn_case():
    """VERDICT r12 item 7 'done' criterion: the alert fires when the
    r12 sf1 q_sim_knn warm move (0.0458 -> 0.1263, 2.8x) is replayed."""
    prev = {"sf1:q_sim_knn": 0.0458, "sf1:q_rollup": 0.0431}
    cur = {"sf1:q_sim_knn": 0.1263, "sf1:q_rollup": 0.0450}
    drifted = warn_warm_drift(cur, prev, list(prev))
    assert "sf1:q_sim_knn" in drifted
    assert "sf1:q_rollup" not in drifted


def test_warm_drift_is_two_sided_and_skips_missing():
    prev = {"a": 0.10, "b": 0.10, "c": 0.10}
    cur = {"a": 0.04, "b": 0.15}  # a sped up >2x, b fine, c missing
    drifted = warn_warm_drift(cur, prev, ["a", "b", "c"])
    assert set(drifted) == {"a"}


def test_tag_mismatch_fails_and_names_both_tags(monkeypatch, tmp_path, capsys):
    """A baseline whose fresh timer or sf10 protocol differs from the
    current payload's is not comparable: the tripwire exits non-zero and
    names both tags instead of switching what it compares."""
    base = {
        "fresh_timer": "construct+exec",
        "queries_fresh": {"q_a": 1.0},
        "sf10": {"queries": {"q_big": 5.0}, "protocol": "fresh-jvm-per-key"},
    }
    assert tag_mismatches(base, dict(base)) == []
    no_leg = {k: v for k, v in base.items() if k != "sf10"}
    assert tag_mismatches(no_leg, base) == []  # SPARK_GRAFT_BENCH_SF10=0
    cur = dict(base, fresh_timer="exec", sf10=dict(base["sf10"], protocol="in-session"))
    assert tag_mismatches(cur, base) == [
        "fresh_timer: baseline 'construct+exec', current 'exec'",
        "sf10.protocol: baseline 'fresh-jvm-per-key', current 'in-session'",
    ]

    bench_line = tmp_path / "bench.json"
    bench_line.write_text(json.dumps(cur) + "\n")
    monkeypatch.setattr(perf_tripwire, "_latest_bench", lambda: ("BENCH_r99.json", base))
    monkeypatch.setattr(sys, "argv", ["perf_tripwire.py", str(bench_line)])
    with pytest.raises(SystemExit) as exit_info:
        perf_tripwire.main()
    assert exit_info.value.code == 1
    out = capsys.readouterr().out
    assert "'construct+exec'" in out and "'exec'" in out
    assert "'fresh-jvm-per-key'" in out and "'in-session'" in out


def test_sf10_leg_parses_json_lines_not_a_prefix():
    """bench.py reads an sf10 child's result from its stdout: any JSON
    line with every result key counts, whatever its key order, and log
    noise or partial objects are skipped."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from bench import _sf10_leg

    leg = {"stage_reuse": 0.5, "median": 2.0, "min": 1.5}
    out = "\n".join([
        "WARN something",
        '{"min": 1.0}',
        "[1, 2]",
        json.dumps(leg),
        json.dumps({**leg, "min": 9.9}),
    ])
    assert _sf10_leg(out) == leg
    assert _sf10_leg('{"min": 1.0, "median": 2.0}\nnot json') is None
