#!/usr/bin/env python3
"""Round-over-round bench drift adjudicator (r15, verdict item 5).

Joins two bench artifacts' per-query seconds and annotates every delta
above a threshold with whether the query's code plausibly changed in
the intervening commits — separating "the engine moved" from "the host
was busy" without hand-joining, the analysis the r14 judge did manually.

Usage:
  tools/bench_diff.py OLD NEW [--git-range A..B] [--thresh 0.3]

OLD/NEW are each one of:
  - a driver BENCH_r{N}.json wrapper (reads .parsed — NOTE its queries
    map is the stdout TAIL, truncated to ~1450 chars / the slowest ~50
    rows; the tool warns when a wrapper is truncated)
  - a raw Bench stdout line or bench_detail.json (the COMPLETE
    per-query map — prefer these: two detail files join all rows)
  - a git spec `REV:PATH` (e.g. `r15snap:bench_detail.json` or
    `69dc772:bench_detail.json`) read via `git show` — bench_detail.json
    is tracked since r16 precisely so each round's full board survives
    in history for this tool.
A query is marked code-changed when any file changed in --git-range
mentions the query name (a deliberate overapproximation; core/ changes
mark EVERY query, which is correct: a Tables/Materialize change can
move every row).
"""
import argparse
import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def read_artifact(spec):
    p = Path(spec)
    if p.exists():
        return p.read_text()
    if ":" in spec:
        out = subprocess.run(["git", "show", spec], cwd=REPO,
                             capture_output=True, text=True)
        if out.returncode == 0:
            return out.stdout
        raise SystemExit(f"git show {spec!r} failed: {out.stderr.strip()}")
    raise SystemExit(f"no such file (and not a REV:PATH git spec): {spec!r}")


def load(spec):
    d = json.loads(read_artifact(spec))
    # explicit None check: early wrappers (BENCH_r01.json) carry
    # "parsed": null — but a present-and-EMPTY parsed dict must be used
    # as-is, not silently fall back to the wrapper's own keys (`or`
    # treats any falsy parsed, including {}, as the null case)
    parsed = d["parsed"] if d.get("parsed") is not None else d
    queries = parsed.get("queries", {})
    env = parsed.get("env", {})
    n_queries = parsed.get("n_queries")
    # truncation = the artifact carries fewer per-query rows than it
    # says it ran — true of driver wrappers (stdout tail) AND of a raw
    # saved Bench stdout line (same tail); bench_detail.json is complete
    truncated = n_queries is not None and len(queries) < n_queries
    return {
        "total": parsed.get("value"),
        "queries": queries,
        "n_queries": n_queries,
        "truncated": truncated,
        "load_pre": env.get("load_pre", ""),
        "calib": (env.get("calib_pre_sec"), env.get("calib_post_sec")),
        "floor": env.get("floor_probe_sec"),
    }


def changed_files(git_range):
    out = subprocess.run(
        ["git", "diff", "--name-only", git_range],
        cwd=REPO, capture_output=True, text=True, check=True).stdout
    return [l for l in out.splitlines() if l.strip()]


def query_to_files(names):
    """Map each query name to the repo files that mention it (grep -l)."""
    mapping = {}
    src = REPO / "src" / "main" / "scala"
    files = list(src.rglob("*.scala"))
    texts = {f: f.read_text(errors="replace") for f in files}
    for name in names:
        mapping[name] = [str(f.relative_to(REPO))
                         for f, t in texts.items() if name in t]
    return mapping


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--git-range", default=None,
                    help="commit range whose diff defines 'code changed' "
                         "(default: merge-base of the two artifacts is "
                         "unknowable — pass it explicitly, e.g. r14tag..HEAD)")
    ap.add_argument("--thresh", type=float, default=0.3)
    args = ap.parse_args()

    old, new = load(args.old), load(args.new)
    changed = set(changed_files(args.git_range)) if args.git_range else None
    # core/ harness files move every row
    core_changed = changed and any(
        c.startswith("src/main/scala/graft/core/") or
        c == "src/main/scala/graft/Bench.scala" for c in changed)

    names = sorted(set(old["queries"]) | set(new["queries"]))
    deltas, onesided = [], []
    for n in names:
        a, b = old["queries"].get(n), new["queries"].get(n)
        if a is None or b is None:
            # a one-sided row in a TRUNCATED wrapper usually just ran
            # under the other board's tail cutoff; between two detail
            # files it is a genuinely added/removed query
            onesided.append((n, a, b))
        elif abs(b - a) > args.thresh:
            deltas.append((n, a, b, b - a))
    qfiles = query_to_files([n for n, *_ in deltas]) if changed else {}

    full_join = not old["truncated"] and not new["truncated"]
    print(f"# bench diff: {args.old} -> {args.new}")
    scope = ("complete boards" if full_join
             else "shared stdout-tail rows; full boards may list more — "
                  "pass bench_detail.json artifacts for a complete join")
    print(f"totals: {old['total']} -> {new['total']} s  ({scope})")
    # Calib-normalized views (r16 verdict item 3): raw totals answer
    # "what did the wall clock read", these answer "did the ENGINE move"
    # with the host-speed ratio divided out.
    oc, nc = old["calib"][0], new["calib"][0]
    if oc and nc:
        print(f"totals at OLD board's host speed: {old['total']} -> "
              f"{new['total'] * oc / nc:.2f} s  "
              f"(new total x old_calib/new_calib = {oc}/{nc})")
    # Floor-normalized view (r17): per-job ceremony degradation (IO,
    # scheduler) that calib cannot see; each reported row pays the floor
    # once, so the cross-artifact view is new_total − n·(floor_new −
    # floor_old). First-order, under-corrects on a degraded host.
    of, nf = old["floor"], new["floor"]
    if of is not None and nf is not None and new["n_queries"]:
        adj = new["total"] - new["n_queries"] * (nf - of)
        print(f"totals at OLD board's harness floor: {old['total']} -> "
              f"{adj:.2f} s  (new total - n*(floor_new-floor_old) = "
              f"{nf}-{of} over {new['n_queries']} rows)")
    for side, art in (("old", old), ("new", new)):
        if art["truncated"]:
            print(f"WARNING: {side} artifact is a truncated stdout tail "
                  f"({len(art['queries'])}/{art['n_queries']} rows) — "
                  f"use its bench_detail.json (tracked in git since r16: "
                  f"`REV:bench_detail.json`) for the full board")
    print(f"env: load_pre {old['load_pre']!r} -> {new['load_pre']!r}, "
          f"calib {old['calib']} -> {new['calib']}, "
          f"floor {old['floor']} -> {new['floor']}")
    if core_changed:
        print("NOTE: core/harness files changed in range — every row may move")
    print()
    print("| query | old s | new s | delta | code changed in range |")
    print("|---|---|---|---|---|")
    for n, a, b, d in sorted(deltas, key=lambda x: -abs(x[3])):
        if changed is None:
            ann = "(pass --git-range)"
        else:
            hits = [f for f in qfiles.get(n, []) if f in changed]
            if core_changed:
                hits.append("core/*")
            ann = ", ".join(sorted(set(hits))) or "NO — host/JIT noise candidate"
        print(f"| {n} | {a:.2f} | {b:.2f} | {d:+.2f} | {ann} |")
    if not deltas:
        print(f"| (no per-query delta over {args.thresh}s) | | | | |")
    if onesided:
        kind = ("ADDED/REMOVED queries" if full_join
                else "rows in only one stdout tail "
                     "(the other board ran them under its tail cutoff)")
        # `is not None` throughout: a legitimate 0.0 s row must neither
        # flip the side label nor sort as missing
        def side_time(a, b):
            return a if a is not None else b
        worst = sorted(onesided, key=lambda x: -(side_time(x[1], x[2]) or 0))[:6]
        print(f"\n{len(onesided)} {kind} — worst: "
              + ", ".join(
                  f"{n}={side_time(a, b)}s({'old' if a is not None else 'new'})"
                  for n, a, b in worst))


if __name__ == "__main__":
    sys.exit(main())
