"""Per-round perf regression tripwire on the FRESH-plan metric
(VERDICT r11 item 6). The r11 methodology finding showed the warm
headline cannot catch real execution regressions — re-running the same
DataFrame reuses completed shuffle map outputs, so only post-exchange
stages are re-timed. The fresh-plan numbers are the data-proportional
ones, so regressions must be gated on THOSE: this check compares the
current bench output's fresh-plan numbers against the newest committed
BENCH_r*.json and fails loudly when any key whose committed plan dump
is UNCHANGED regresses more than 25%.

Host normalization: BENCH files are produced on the driver's host while
this check usually runs on the builder box (measured 25-40% slower at
r12 start on a byte-identical tree), so raw cross-file ratios would
trip on every key after a host change. The median fresh ratio across
plan-UNCHANGED keys estimates the host speed factor; a key is flagged
only when its own ratio exceeds 1.25x that median. On the same host the
median is ~1.0 and the check reduces to the plain >25% rule; a real
single-key regression moves its own ratio but barely moves the median.
(A regression that slows EVERY key uniformly is indistinguishable from
a slower host by timing alone — that failure mode is what the plan-dump
diff and the oracle ladder cover.)

Plan-unchanged = docs/plans/<key>.txt identical (git) between the
commit that recorded the previous BENCH file and the current worktree,
after ``bcdp_spark.plans.normalize`` (the same comparison as
``tools/dump_plans.py --check``): a dump regenerated in another session
renumbers every attribute, so raw bytes would mark the whole registry
plan-changed after each refresh and silently disarm the gate.
Keys whose plan dump changed are skipped: their fresh number is
expected to move, and the plan diff itself is the reviewable evidence.

Usage: python tools/perf_tripwire.py <bench_json_path|->
(reads the bench's single JSON line; '-' = stdin)
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, REPO)

from bcdp_spark.plans import normalize  # noqa: E402

THRESHOLD = 1.25  # >25% round-over-round regression (VERDICT r11 item 6)

# Keys near the local session floor (~0.2-0.4 s fresh) move 2x between
# fresh processes on nothing but JIT/page-cache/scheduling noise
# (measured on q_tumbling_events sf1: min-of-7 spans 0.33-0.89 s across
# back-to-back identical-config processes). A pure ratio gate on such a
# key is noise amplification, so a flag additionally requires the
# host-normalized ABSOLUTE excess to clear this floor. A real
# regression of a floor-bound key's algorithm shows up at the larger
# bench scales where its absolute time is no longer floor-bound.
ABS_EXCESS_FLOOR_SEC = 0.2


def _latest_bench() -> tuple[str, dict] | None:
    # r13 (ADVICE r12): select among COMMITTED bench files only. The
    # gate needs `git log -1 -- <file>` to resolve a base commit, so an
    # untracked BENCH_r*.json (the normal mid-round worktree state)
    # previously won the glob and silently disarmed the whole check.
    tracked = subprocess.run(
        ["git", "ls-files", "BENCH_r*.json"],
        cwd=REPO, capture_output=True, text=True,
    ).stdout.split()
    if not tracked:
        return None
    def rno(p: str) -> int:
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        return int(m.group(1)) if m else -1
    name = max(tracked, key=rno)
    path = os.path.join(REPO, name)
    with open(path) as fh:
        doc = json.load(fh)
    # driver files wrap the bench line under "parsed"; accept a raw
    # bench payload too so the tool works on ad-hoc saved runs
    payload = doc.get("parsed", doc)
    return path, payload


def _fresh_entries(payload: dict) -> dict[str, float]:
    """Flatten every fresh-plan number in a bench payload to
    {scale:key: seconds}. Warm numbers are deliberately excluded —
    they are the stage-reuse metric this tripwire exists to replace."""
    out: dict[str, float] = {}
    for key, sec in (payload.get("queries_fresh") or {}).items():
        out[f"sf0.1:{key}"] = sec
    for scale in ("sf1", "sf10"):
        leg = payload.get(scale) or {}
        fresh = leg.get("queries_fresh") or None
        if fresh is None and scale == "sf10":
            fresh = leg.get("queries")  # sf10's headline IS fresh-plan
        for key, sec in (fresh or {}).items():
            out[f"{scale}:{key}"] = sec
    return out


def tag_mismatches(current: dict, prev: dict) -> list[str]:
    """One line per measurement tag that differs between two bench
    payloads. Payloads whose tags differ measure different things, so
    the gate refuses to compare them."""
    tags = [("fresh_timer", current.get("fresh_timer"), prev.get("fresh_timer"))]
    cur_leg, prev_leg = current.get("sf10"), prev.get("sf10")
    if cur_leg and prev_leg:  # a run without the sf10 leg gates no sf10 entry
        tags.append(("sf10.protocol", cur_leg.get("protocol"), prev_leg.get("protocol")))
    return [f"{name}: baseline {p!r}, current {c!r}" for name, c, p in tags if c != p]


def _plan_unchanged(key: str, base_commit: str) -> bool:
    dump = os.path.join("docs", "plans", f"{key}.txt")
    path = os.path.join(REPO, dump)
    if not os.path.exists(path):
        return False  # no dump, no claim — skip rather than flag
    shown = subprocess.run(
        ["git", "show", f"{base_commit}:{dump}"],
        cwd=REPO, capture_output=True, text=True,
    )
    if shown.returncode != 0:
        return False  # dump did not exist at the base commit
    with open(path) as fh:
        current = fh.read()
    return normalize(shown.stdout) == normalize(current)


def flag_regressions(
    cur: dict[str, float], prev: dict[str, float], unchanged: list[str],
) -> tuple[dict[str, float], float, dict[str, float]]:
    """(ratios, host_factor, flagged) for the plan-unchanged entries.
    host_factor = median ratio (absorbs a uniformly faster/slower box);
    flagged = entries whose own ratio exceeds THRESHOLD x that median.

    r13 (ADVICE r12): below 5 entries the median self-masks — with one
    entry it IS the entry's own ratio (nothing can ever flag), with 2-3
    a real regression inflates the median enough to hide itself — so
    small samples fall back to host_factor=1.0 (the plain ratio rule)."""
    ratios = {e: cur[e] / prev[e] for e in unchanged if prev[e] > 0}
    if len(ratios) >= 5:
        host_factor = statistics.median(ratios.values())
    else:
        host_factor = 1.0
    flagged = {
        e: r
        for e, r in ratios.items()
        if r > THRESHOLD * host_factor
        and cur[e] - prev[e] * host_factor > ABS_EXCESS_FLOOR_SEC
    }
    return ratios, host_factor, flagged


WARM_DRIFT_FACTOR = 2.0  # VERDICT r12 item 7 — alert (never fail) level


def _warm_entries(payload: dict) -> dict[str, float]:
    """Flatten the warm (same-DF stage-reuse) numbers: the sf0.1
    headline `queries` and sf1's `queries`. These are the noise-prone
    metric the fresh gate deliberately excludes — but r12 showed a 2.8x
    warm move (sf1 q_sim_knn) can slip through with NO gate watching at
    all, so >2x moves on plan-unchanged keys now print a WARNING
    (exit code unaffected)."""
    out: dict[str, float] = {}
    for key, sec in (payload.get("queries") or {}).items():
        out[f"sf0.1:{key}"] = sec
    for key, sec in ((payload.get("sf1") or {}).get("queries") or {}).items():
        out[f"sf1:{key}"] = sec
    return out


def warn_warm_drift(
    cur: dict[str, float], prev: dict[str, float], unchanged: list[str],
) -> dict[str, float]:
    """Non-fatal: warm entries (plan-unchanged keys) that moved more
    than WARM_DRIFT_FACTOR in either direction."""
    drifted: dict[str, float] = {}
    for e in unchanged:
        if prev.get(e, 0) > 0 and e in cur:
            r = cur[e] / prev[e]
            if r > WARM_DRIFT_FACTOR or r < 1.0 / WARM_DRIFT_FACTOR:
                drifted[e] = r
    return drifted


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "-"
    text = sys.stdin.read() if src == "-" else open(src).read()
    # bench prints exactly one JSON line; tolerate surrounding log
    # noise. r13 (ADVICE r12): parse each line instead of matching a
    # byte prefix, so a cosmetic key-order change in bench.py cannot
    # fail the whole verify ladder with exit 2.
    current = None
    for ln in text.splitlines():
        ln = ln.strip()
        if not ln.startswith("{"):
            continue
        try:
            doc = json.loads(ln)
        except ValueError:
            continue
        if isinstance(doc, dict) and "queries_fresh" in doc:
            current = doc
            break
    if current is None:
        print("perf_tripwire: no bench JSON line found in input")
        sys.exit(2)

    prev = _latest_bench()
    if prev is None:
        print("perf_tripwire: no committed BENCH_r*.json — nothing to compare")
        return
    prev_path, prev_payload = prev
    mismatched = tag_mismatches(current, prev_payload)
    if mismatched:
        print(
            f"perf_tripwire: bench payload measures something other than "
            f"{os.path.basename(prev_path)} — refusing to compare:"
        )
        for line in mismatched:
            print(f"  {line}")
        sys.exit(1)
    base_commit = subprocess.run(
        ["git", "log", "-1", "--format=%H", "--", os.path.basename(prev_path)],
        cwd=REPO, capture_output=True, text=True,
    ).stdout.strip()
    if not base_commit:
        print(f"perf_tripwire: {os.path.basename(prev_path)} not in git — skipping")
        return

    cur_f = _fresh_entries(current)
    prev_f = _fresh_entries(prev_payload)
    shared = sorted(set(cur_f) & set(prev_f))
    unchanged = [
        e for e in shared if _plan_unchanged(e.split(":", 1)[1], base_commit)
    ]
    if not unchanged:
        print("perf_tripwire: no plan-unchanged keys shared with "
              f"{os.path.basename(prev_path)} — nothing to gate")
        return

    ratios, host_factor, flagged = flag_regressions(cur_f, prev_f, unchanged)
    print(
        f"perf_tripwire: {len(unchanged)} plan-unchanged fresh entries vs "
        f"{os.path.basename(prev_path)} (commit {base_commit[:8]}), "
        f"host factor {host_factor:.2f}"
    )
    if len(ratios) < 5:
        print(
            "perf_tripwire: WARNING — fewer than 5 plan-unchanged entries; "
            "host normalization is statistically inert, using plain ratios"
        )
    for e in sorted(ratios, key=lambda e: -ratios[e]):
        mark = " <-- REGRESSION" if e in flagged else ""
        print(
            f"  {e}: {prev_f[e]:.4f} -> {cur_f[e]:.4f} "
            f"({ratios[e]:.2f}x, {ratios[e]/host_factor:.2f}x normalized){mark}"
        )
    # VERDICT r12 item 7: warm-metric drift ALERT (never fatal) — warm
    # numbers are stage-reuse + session-floor noise, but a >2x move on a
    # plan-unchanged key deserves eyes even when the fresh gate is green.
    cur_w = _warm_entries(current)
    prev_w = _warm_entries(prev_payload)
    warm_shared = sorted(set(cur_w) & set(prev_w))
    warm_unchanged = [
        e for e in warm_shared
        if _plan_unchanged(e.split(":", 1)[1], base_commit)
    ]
    drifted = warn_warm_drift(cur_w, prev_w, warm_unchanged)
    for e in sorted(drifted, key=lambda e: -drifted[e]):
        print(
            f"perf_tripwire: WARNING — warm drift {e}: "
            f"{prev_w[e]:.4f} -> {cur_w[e]:.4f} ({drifted[e]:.2f}x, "
            "plan unchanged; warm metric is noise-prone — investigate, "
            "not necessarily a regression)"
        )
    if flagged:
        print(
            f"perf_tripwire: FAILED — {len(flagged)} plan-unchanged key(s) "
            f"regressed >{int((THRESHOLD-1)*100)}% normalized on the fresh-plan metric"
        )
        sys.exit(1)
    print("perf_tripwire: OK")


if __name__ == "__main__":
    main()
