#!/usr/bin/env python3
"""Bench regression gate: compare a fresh bench_out.json against the
committed BENCH_BASELINE.json and fail on per-query regressions.

Round 2 bought a correctness fix with a silent 48x slowdown on one
query (ext_dedup_embedding_lsh, 1.9s -> 92.3s); this gate makes that
class of trade impossible to commit unnoticed.

Usage: python3 tools/bench_gate.py [bench_out.json] [baseline.json]
  exit 0: no query regressed beyond the threshold
  exit 1: regressions listed on stdout

Either argument may be a raw Bench stdout line ({"metric":...,
"queries":{...}}) or a driver round artifact (BENCH_r0N.json, whose
"tail" field embeds that line in captured sbt output) — so the gate
runs on exactly the file the judge grades, not only the builder's
standalone run. A raw line marked "partial":true (Bench's final stdout
line) is judged like a partial tail: completeness by n_queries, not by
which rows it holds.

A query missing from the baseline is informational (new query); a
query missing from the fresh run FAILS (a query was dropped or died —
Bench reports crashed queries as -1, which also fails here).
"""
import json
import sys


def load_bench(path):
    """Returns (queries_map, canary_samples_or_None, canary_ref_or_None,
    worst_part_canary_or_None, meta). meta carries completeness info for
    driver-format files whose bounded tail cannot hold every part line:
    {"partial": bool, "n_queries": int|None, "n_failed": int|None}."""
    obj = json.load(open(path))
    if "queries" in obj:
        # Bench's final stdout line marks itself "partial": its map is
        # the headline rows plus the costliest ones that fit the line
        meta = {"partial": bool(obj.get("partial")),
                "n_queries": obj.get("n_queries"),
                "n_failed": obj.get("n_failed"), "value": obj.get("value")}
        return (obj["queries"], obj.get("canary"), obj.get("canary_ref"),
                obj.get("canary_worst_part"), meta)
    tail = obj.get("tail")
    if isinstance(tail, str):
        # driver format: find the Bench JSON line inside the stdout
        # tail (usually prefixed with sbt's "[info] "); take the LAST
        # parseable one in case a partial line was cut at the tail edge.
        # Since r9 Bench splits the map across {"bench_part":k,"of":n}
        # lines (each <=1 KB, so none can straddle the tail boundary)
        # with a short queries-free summary last — reassemble those.
        found = None
        canary = None
        worst_part = None
        n_queries = None
        n_failed = None
        n_parts_of = None
        value = None
        parts = {}
        for line in tail.splitlines():
            j = line.find('{"bench_part"')
            if j >= 0:
                try:
                    cand = json.loads(line[j:])
                    parts[cand["bench_part"]] = cand.get("queries", {})
                    n_parts_of = cand.get("of", n_parts_of)
                except (json.JSONDecodeError, KeyError):
                    pass
                continue
            i = line.find('{"metric"')
            if i < 0:
                continue
            try:
                cand = json.loads(line[i:])
            except json.JSONDecodeError:
                continue
            if "queries" in cand:
                found = cand["queries"]
                canary = cand.get("canary", canary)
                worst_part = cand.get("canary_worst_part", worst_part)
                n_queries = cand.get("n_queries", n_queries)
                n_failed = cand.get("n_failed", n_failed)
                n_parts_of = cand.get("bench_parts", n_parts_of)
                value = cand.get("value", value)
        # Since the canary change the FINAL line carries the headline
        # subset (it fits the driver's ~2 KB tail) while the full map
        # rides the bench_part lines — merge BOTH when both survived
        # the tail, so a complete tail grades every row instead of
        # reporting the non-headline rows missing.
        if parts or found is not None:
            merged = {}
            for k in sorted(parts):
                merged.update(parts[k])
            merged.update(found or {})
            partial = n_parts_of is not None and len(parts) < n_parts_of
            meta = {"partial": partial, "n_queries": n_queries,
                    "n_failed": n_failed, "value": value}
            return merged, canary, None, worst_part, meta
        sys.exit(f"{path}: driver-format file but no complete bench "
                 f"JSON line in its tail (run truncated or crashed?)")
    sys.exit(f"{path}: unrecognized bench format "
             f"(need \"queries\" or a driver \"tail\")")

THRESHOLD = 1.5     # per-query regression factor that fails the gate
MIN_DELTA = 2.0     # ...AND at least this many seconds slower: a 0.4s
                    # query jittering to 1.2s is noise; 1.9s -> 92s is
                    # the class this gate exists for
CANARY_MAX = 1.3    # a capture whose BEST canary sample exceeds this
                    # factor of the baseline window's canary_ref was
                    # taken on a loaded host: its per-query numbers
                    # measure weather, not code. Exit 2 ("window
                    # invalid, re-run") — distinct from a regression.


def main(fresh_path, base_path, allow_no_canary=False):
    fresh, canary, _, worst_part, meta = load_bench(fresh_path)
    base, _, canary_ref, _, _ = load_bench(base_path)
    if canary_ref is not None:
        if not canary:
            # A canary-less capture against a canary-carrying baseline
            # is UNGRADEABLE: the window could be arbitrarily loaded
            # and nothing in the file can prove otherwise — exactly
            # the unfalsifiable-weather failure the canary exists to
            # refuse. Exit 2 unless explicitly overridden.
            print(f"== BENCH WINDOW UNKNOWN: baseline carries canary_ref="
                  f"{canary_ref:.3f}s but the capture has no canary "
                  f"samples (pre-canary or stripped Bench build?) ==")
            if not allow_no_canary:
                print(f"  refusing to grade (exit 2) — re-run on a "
                      f"canary-enabled build, or pass --allow-no-canary "
                      f"to grade anyway")
                return 2
            print(f"  --allow-no-canary given: grading an UNVALIDATED "
                  f"window")
        elif worst_part is not None:
            # Self-healing Bench (r18+): canary_worst_part is the worst
            # part's BEST bracket sample — per-part validity in one
            # float. If even the worst part had a quiet bracket, EVERY
            # graded row came from a validated window (strictly
            # stronger than the whole-run min below).
            if worst_part > canary_ref * CANARY_MAX:
                print(f"== BENCH WINDOW INVALID, RE-RUN ==")
                print(f"  worst part's best canary bracket "
                      f"{worst_part:.3f}s > {CANARY_MAX}x canary_ref "
                      f"{canary_ref:.3f}s — at least one measurement "
                      f"part never saw a quiet window even after "
                      f"in-run retries; its rows are weather, not code")
                return 2
            print(f"  [window ok per-part] worst part's best bracket "
                  f"{worst_part:.3f}s <= {CANARY_MAX}x ref "
                  f"{canary_ref:.3f}s (run summary: "
                  f"{', '.join(f'{c:.3f}' for c in canary)})")
        else:
            best = min(canary)
            if best > canary_ref * CANARY_MAX:
                print(f"== BENCH WINDOW INVALID, RE-RUN ==")
                print(f"  best canary sample {best:.3f}s > "
                      f"{CANARY_MAX}x canary_ref {canary_ref:.3f}s "
                      f"(samples: {', '.join(f'{c:.3f}' for c in canary)})")
                print(f"  the host was loaded for the WHOLE capture "
                      f"window; per-query numbers are weather, not "
                      f"code — nothing can be graded from this file")
                return 2
            print(f"  [window ok] best canary {best:.3f}s <= "
                  f"{CANARY_MAX}x ref {canary_ref:.3f}s")
    failures, notes = [], []
    # A crashed row fails the gate whatever map it came from — the
    # final line's n_failed covers rows whose part lines are not in
    # view (a partial tail), and a -1 row visible anywhere fails below
    # even when it has no baseline yet.
    nf = meta.get("n_failed")
    if nf is not None and nf > 0:
        failures.append(f"run declares n_failed={nf}: crashed queries "
                        f"(rows report -1; a partial tail may have "
                        f"scrolled them — see bench_out.json)")
    # A driver artifact's ~2 KB stdout tail can only hold the LAST
    # couple of bench_part lines, so most per-query rows legitimately
    # scroll out. First try to UPGRADE a partial tail to the full map:
    # Bench always writes bench_out.json next to the gate's cwd during
    # the same run, and the tail's final line authenticates it (total
    # value + n_queries must match). Failing that, a baseline row
    # absent from the tail is "not captured", not "dropped" —
    # completeness then rides n_queries (which also catches an
    # equal-count rename only when the full map is recovered, so the
    # upgrade is attempted first and its absence is printed loudly).
    partial = meta.get("partial", False)
    if partial:
        full = None
        try:
            cand = json.load(open("bench_out.json"))
            same_total = abs(cand.get("value", -1) - meta.get("value", -2)) < 0.01                 if meta.get("value") is not None else False
            nq = meta.get("n_queries")
            if cand.get("queries") is not None and same_total and (
                    nq is None or len(cand["queries"]) == nq):
                full = cand["queries"]
        except (OSError, json.JSONDecodeError, ValueError):
            pass
        if full is not None:
            print(f"  [partial tail -> full map] bench_out.json matches "
                  f"the tail's total/value and n_queries — grading all "
                  f"{len(full)} rows from it")
            fresh = full
            partial = False
        else:
            nq = meta.get("n_queries")
            if nq is not None and nq < len(base):
                failures.append(f"run declares n_queries={nq} < baseline "
                                f"{len(base)}: queries were dropped")
            visible = sum(1 for n in base if n in fresh)
            print(f"  [partial tail] {visible}/{len(base)} baseline rows "
                  f"visible in the tail (no matching bench_out.json to "
                  f"upgrade from); per-query checks cover those, "
                  f"completeness rides n_queries/n_failed")
    for name, b in sorted(base.items()):
        f = fresh.get(name)
        if f is None:
            if not partial:
                failures.append(f"{name}: present in baseline but missing from run")
            continue
        if f < 0:
            failures.append(f"{name}: query failed in bench (reported {f})")
            continue
        if b <= 0:
            notes.append(f"{name}: no usable baseline ({b})")
            continue
        if f > b * THRESHOLD and f - b > MIN_DELTA:
            failures.append(f"{name}: {b:.2f}s -> {f:.2f}s ({f / b:.1f}x)")
    for name in sorted(set(fresh) - set(base)):
        if fresh[name] < 0:
            failures.append(f"{name}: new query FAILED in bench "
                            f"(reported {fresh[name]})")
        else:
            notes.append(f"{name}: new query ({fresh[name]:.2f}s), no baseline")
    for n in notes:
        print(f"  [note] {n}")
    if failures:
        print(f"== BENCH GATE FAILED ({len(failures)} regressions > "
              f"{THRESHOLD}x) ==")
        for f in failures:
            print(f"  {f}")
        return 1
    print(f"== bench gate ok: {len(base)} queries within {THRESHOLD}x "
          f"of baseline ==")
    return 0


if __name__ == "__main__":
    args = [a for a in sys.argv[1:] if a != "--allow-no-canary"]
    allow = "--allow-no-canary" in sys.argv[1:]
    fresh = args[0] if len(args) > 0 else "bench_out.json"
    base = args[1] if len(args) > 1 else "BENCH_BASELINE.json"
    sys.exit(main(fresh, base, allow_no_canary=allow))
