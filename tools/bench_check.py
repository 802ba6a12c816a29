#!/usr/bin/env python3
"""Gate for bench artifacts: refuse any artifact that is not a clean
measurement, so contaminated numbers are STRUCTURALLY unusable downstream
(SCALE.md slope math, round-over-round deltas, BENCH_NOTES adjudications).

An artifact is refused when:
  - `failed` is non-empty (a query raised; since r14 its timing is null);
  - any per-query timing is null (failed-on-some-pass sentinel);
  - `load1m_start` exceeds the idle bar (default 1.0; override with
    --max-load for deliberately-loaded adjudication runs, which must then
    say so wherever the number is used);
  - (since r16) `steal_pct` — the CPU share a VM co-tenant took DURING the
    run, stamped by Bench/StreamBench from /proc/stat — exceeds --max-steal
    (default 3.0). Steal never shows in the load average (the r16 find: two
    load-admitted sf0.1 runs 1.35-1.55x slow, uniformly across 227 queries,
    with 11.8%% measured steal), so the load gate alone is not enough.
    Artifacts older than r16 have no stamp; they pass this check with a
    stderr note — read them WITH their round's adjudication;
  - (since r16) `canary_ms_start`/`canary_ms_end` — HostStat's
    single-thread 512MB sequential-read timing, stamped by Bench before
    and after the run — exceeds --max-canary-ms when that bar is given.
    This is the SECOND co-tenant axis: r16 measured Spark 1.4-1.8x slow
    with steal at 1-2.7%% and a register-only canary at its normal value —
    the contention lived in the memory system, which only a
    memory-touching probe sees;
  - (since r15) a HEAVY row — in-catalog timing >= the artifact's
    `isolate_min`, default 10 s — lacks its `isolated` min-of-N companion:
    heavy in-catalog rows carry ~2.5x pass variance, so without the
    companion the row misleads (the r14 session_overlap 161.8 s vs 95.5 s
    isolated case). Pre-r15 artifacts with heavy rows are refused too —
    read them only WITH their BENCH_NOTES adjudication, or re-admit
    explicitly with --isolate-min inf.

Usage:
  python3 tools/bench_check.py BENCH_LOCAL_sf30.json [more.json ...]
  python3 tools/bench_check.py --max-load 4.0 loaded_run.json
  python3 tools/bench_check.py --isolate-min inf old_artifact.json
  python3 tools/bench_check.py --selftest    # negative tests of this gate

Exit 0 = every artifact is clean; exit 1 = at least one refusal (reasons on
stderr). Use it before ANY cross-artifact arithmetic.
"""
import argparse
import json
import sys


# This host's clean-window canary reference is 119-140 ms (BENCH_NOTES r16:
# stable across the codegen ABAB and the gate-admitted r16 artifact); the
# default bar is that reference x ~1.3, so the canary axis is on by default
# (VERDICT r16 item 8) instead of opt-in. Pass --max-canary-ms to override
# (inf to waive).
DEFAULT_MAX_CANARY_MS = 180.0


def check(doc, max_load, isolate_min=None, max_steal=3.0, notes=None,
          max_canary_ms=None, allow_overrides=False):
    """Return a list of refusal reasons (empty = clean)."""
    reasons = []
    canary_bar = max_canary_ms if max_canary_ms is not None \
        else DEFAULT_MAX_CANARY_MS
    canaries = [doc.get(k) for k in ("canary_ms_start", "canary_ms_end")
                if doc.get(k) is not None]
    if not canaries:
        if max_canary_ms is not None:
            reasons.append("--max-canary-ms given but artifact has no "
                           "canary stamp (pre-r16?)")
        elif notes is not None:
            notes.append("no canary stamp (pre-r16 artifact) — memory-"
                         "contention axis unadjudicated")
    elif max(canaries) > canary_bar:
        reasons.append(
            f"delivered-bandwidth canary degraded: "
            f"max(canary_ms)={max(canaries)} > {canary_bar} "
            f"(co-tenant memory contention; see HostStat)")
    # r17 (ADVICE r16): an artifact stamped with session-conf overrides (the
    # k=v pairs of SPARK_GRAFT_CONF, which Graft.session applies) is a dev
    # A/B run, not a judged measurement — refuse unless explicitly re-admitted
    overrides = doc.get("conf_overrides")
    if overrides:
        if allow_overrides:
            if notes is not None:
                notes.append(f"conf overrides admitted by flag: {overrides}")
        else:
            reasons.append(
                f"session-conf override envs were set: {overrides} "
                f"(dev A/B artifact; --allow-overrides to re-admit)")
    elif overrides is None and notes is not None:
        notes.append("no conf_overrides stamp (pre-r17 artifact) — "
                     "override envs unadjudicated")
    steal = doc.get("steal_pct")
    if steal is None:
        if notes is not None:
            notes.append("no steal_pct stamp (pre-r16 artifact) — co-tenant "
                         "contention unadjudicated")
    elif steal > max_steal:
        reasons.append(
            f"co-tenant steal during run: steal_pct={steal} > {max_steal}")
    failed = doc.get("failed", [])
    if failed:
        reasons.append(f"failed queries present: {failed}")
    nulls = [k for k, v in doc.get("queries", {}).items() if v is None]
    if nulls:
        reasons.append(f"null timings (failed on some pass): {nulls}")
    load = doc.get("load1m_start")
    if load is None:
        reasons.append("no load1m_start stamp (pre-r11 artifact?)")
    elif load > max_load:
        reasons.append(
            f"host not idle at start: load1m_start={load} > {max_load}")
    # heavy rows must be self-adjudicating: >= isolate_min needs an
    # `isolated` min-of-N companion in the SAME artifact
    bar = isolate_min if isolate_min is not None \
        else doc.get("isolate_min", 10.0)
    iso = doc.get("isolated", {})
    orphans = [k for k, v in doc.get("queries", {}).items()
               if v is not None and v >= bar and k not in iso]
    if orphans:
        reasons.append(
            f"heavy rows (>= {bar}s) without isolated companion: "
            f"{sorted(orphans)}")
    return reasons


def selftest():
    clean = {"load1m_start": 0.2, "failed": [],
             "queries": {"q1": 1.0, "q2": 2.0}}
    assert check(clean, 1.0) == [], "clean artifact must pass"
    bad_failed = dict(clean, failed=["q9"])
    assert any("failed queries" in r for r in check(bad_failed, 1.0)), \
        "non-empty failed must refuse"
    bad_null = dict(clean, queries={"q1": 1.0, "q2": None})
    assert any("null timings" in r for r in check(bad_null, 1.0)), \
        "null timing must refuse"
    bad_load = dict(clean, load1m_start=2.2)
    assert any("not idle" in r for r in check(bad_load, 1.0)), \
        "loaded start must refuse"
    assert check(bad_load, 4.0) == [], "--max-load override must admit it"
    no_stamp = {"failed": [], "queries": {"q1": 1.0}}
    assert any("load1m_start" in r for r in check(no_stamp, 1.0)), \
        "missing load stamp must refuse"
    heavy_orphan = dict(clean, queries={"q1": 1.0, "qh": 42.0})
    assert any("isolated companion" in r for r in check(heavy_orphan, 1.0)), \
        "heavy row without isolated companion must refuse"
    heavy_ok = dict(heavy_orphan, isolated={"qh": 30.5})
    assert check(heavy_ok, 1.0) == [], \
        "heavy row WITH companion must pass"
    heavy_waived = dict(heavy_orphan)
    assert check(heavy_waived, 1.0, isolate_min=float("inf")) == [], \
        "--isolate-min inf must re-admit pre-r15 artifacts"
    custom_bar = dict(clean, isolate_min=0.5)
    assert any("isolated companion" in r for r in check(custom_bar, 1.0)), \
        "artifact's own isolate_min bar must apply"
    stolen = dict(clean, steal_pct=11.8)
    assert any("steal" in r for r in check(stolen, 1.0)), \
        "co-tenant steal past the bar must refuse"
    assert check(stolen, 1.0, max_steal=15.0) == [], \
        "--max-steal override must admit it"
    assert check(dict(clean, steal_pct=0.4), 1.0) == [], \
        "sub-bar steal must pass"
    no_steal_notes = []
    assert check(clean, 1.0, notes=no_steal_notes) == [] and \
        any("steal_pct" in n for n in no_steal_notes), \
        "missing steal stamp passes but must leave a note"
    slow_canary = dict(clean, canary_ms_start=40.0, canary_ms_end=150.0)
    assert any("canary" in r
               for r in check(slow_canary, 1.0, max_canary_ms=60.0)), \
        "degraded end-canary must refuse when the bar is given"
    assert check(dict(clean, canary_ms_start=40.0, canary_ms_end=45.0),
                 1.0, max_canary_ms=60.0) == [], \
        "sub-bar canaries must pass"
    assert any("no canary stamp" in r
               for r in check(clean, 1.0, max_canary_ms=60.0)), \
        "--max-canary-ms against an unstamped artifact must refuse"
    # r17: the canary bar is ON by default (clean-host reference x1.3)
    assert any("canary" in r
               for r in check(dict(clean, canary_ms_start=121.0,
                                   canary_ms_end=250.0), 1.0)), \
        "default canary bar must refuse a degraded run"
    assert check(dict(clean, canary_ms_start=121.0, canary_ms_end=140.0),
                 1.0) == [], "clean-reference canaries must pass by default"
    unstamped_notes = []
    assert check(clean, 1.0, notes=unstamped_notes) == [] and \
        any("canary" in n for n in unstamped_notes), \
        "default bar on an unstamped artifact must pass with a note"
    # r17 (ADVICE r16): conf-override-stamped artifacts are refused
    overridden = dict(clean, conf_overrides=["spark.sql.adaptive.enabled=false"])
    assert any("override" in r for r in check(overridden, 1.0)), \
        "conf-override artifact must refuse"
    assert check(overridden, 1.0, allow_overrides=True) == [], \
        "--allow-overrides must re-admit it"
    assert check(dict(clean, conf_overrides=[]), 1.0) == [], \
        "empty conf_overrides must pass"
    print("bench_check selftest: 21/21 refusal paths OK")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("artifacts", nargs="*")
    ap.add_argument("--max-load", type=float, default=1.0)
    ap.add_argument("--max-steal", type=float, default=3.0,
                    help="refuse artifacts whose stamped steal_pct exceeds "
                         "this (co-tenant CPU share during the run)")
    ap.add_argument("--max-canary-ms", type=float, default=None,
                    help="refuse artifacts whose canary_ms_start/end exceeds "
                         "this. The canary is HostStat's single-thread 512MB "
                         "sequential-read timing — the memory-contention axis "
                         "steal cannot see. Default: %.0f ms (this host's "
                         "clean reference 119-140 ms x~1.3, BENCH_NOTES r16); "
                         "when defaulted, an unstamped pre-r16 artifact "
                         "passes with a note instead of being refused. "
                         "Pass inf to waive." % DEFAULT_MAX_CANARY_MS)
    ap.add_argument("--allow-overrides", action="store_true",
                    help="re-admit artifacts stamped with session-conf "
                         "override envs (dev A/B runs)")
    ap.add_argument("--isolate-min", type=float, default=None,
                    help="override the heavy-row bar (inf = waive; default: "
                         "the artifact's own isolate_min, else 10.0)")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        selftest()
        return 0
    if not args.artifacts:
        ap.error("no artifacts given")
    bad = 0
    for path in args.artifacts:
        with open(path) as f:
            # artifacts are one JSON object per line; take the total_detail
            # line (the only one with a queries map) or the sole line
            docs = [json.loads(line) for line in f if line.strip()]
        doc = next((d for d in docs if d.get("metric") == "total_detail"),
                   docs[-1])
        notes = []
        reasons = check(doc, args.max_load, args.isolate_min,
                        args.max_steal, notes, args.max_canary_ms,
                        args.allow_overrides)
        for n in notes:
            print(f"note {path}: {n}", file=sys.stderr)
        if reasons:
            bad += 1
            for r in reasons:
                print(f"REFUSED {path}: {r}", file=sys.stderr)
        else:
            print(f"ok {path}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
