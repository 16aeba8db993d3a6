#!/usr/bin/env python3
"""Gate tests for tools/bench_gate.py (r19, VERDICT item 7): the
canary-less carve-out must be CLOSED — a capture with no canary
samples graded against a baseline that carries canary_ref exits 2
(window unknowable), not 0; --allow-no-canary is the only override.
Also pins the basic pass/regression/window-invalid verdicts.

Usage: python3 tools/test_bench_gate.py   (exit 0 = all pass)
"""
import json
import os
import subprocess
import sys
import tempfile

GATE = os.path.join(os.path.dirname(__file__), "bench_gate.py")


def run(fresh, base):
    with tempfile.TemporaryDirectory() as d:
        fp = os.path.join(d, "fresh.json")
        bp = os.path.join(d, "base.json")
        json.dump(fresh, open(fp, "w"))
        json.dump(base, open(bp, "w"))
        # cwd: the gate upgrades a partial line from ./bench_out.json
        r = subprocess.run([sys.executable, GATE, fp, bp], cwd=d,
                           capture_output=True, text=True)
        return r.returncode, r.stdout


BASE = {"queries": {"q1": 1.0, "q2": 2.0}, "canary": [0.4, 0.45, 0.5],
        "canary_ref": 0.45, "n_queries": 2, "n_failed": 0}

checks = []

# 1. quiet window, no regression -> 0
rc, out = run({"queries": {"q1": 1.1, "q2": 2.1}, "canary": [0.44],
               "canary_worst_part": 0.44, "n_queries": 2, "n_failed": 0}, BASE)
checks.append(("quiet pass", rc == 0, rc, out))

# 2. CANARY-LESS capture vs canary_ref baseline -> exit 2 (the closed
#    carve-out: an unvalidated window must refuse, never grade)
rc, out = run({"queries": {"q1": 1.0, "q2": 2.0},
               "n_queries": 2, "n_failed": 0}, BASE)
checks.append(("canary-less refused", rc == 2, rc, out))

# 3. loaded window (worst part over 1.3x ref) -> exit 2
rc, out = run({"queries": {"q1": 1.0, "q2": 2.0}, "canary": [0.9],
               "canary_worst_part": 0.9, "n_queries": 2, "n_failed": 0}, BASE)
checks.append(("loaded window refused", rc == 2, rc, out))

# 4. real regression in a quiet window -> exit 1
rc, out = run({"queries": {"q1": 1.0, "q2": 9.0}, "canary": [0.44],
               "canary_worst_part": 0.44, "n_queries": 2, "n_failed": 0}, BASE)
checks.append(("regression fails", rc == 1, rc, out))

# 5. dropped query in a quiet window -> exit 1
rc, out = run({"queries": {"q1": 1.0}, "canary": [0.44],
               "canary_worst_part": 0.44, "n_queries": 1, "n_failed": 0}, BASE)
checks.append(("dropped query fails", rc == 1, rc, out))

# 6. Bench's final stdout line, marked partial: a baseline row that
#    did not fit the line is not a dropped query -> 0
rc, out = run({"queries": {"q1": 1.0}, "partial": True, "canary": [0.44],
               "canary_worst_part": 0.44, "n_queries": 2, "n_failed": 0}, BASE)
checks.append(("partial line judged by n_queries", rc == 0, rc, out))

# 7. ...but a partial line that declares fewer queries -> exit 1
rc, out = run({"queries": {"q1": 1.0}, "partial": True, "canary": [0.44],
               "canary_worst_part": 0.44, "n_queries": 1, "n_failed": 0}, BASE)
checks.append(("partial line with n_queries drop fails", rc == 1, rc, out))

failed = [c for c in checks if not c[1]]
for name, ok, rc, out in checks:
    print(f"{'PASS' if ok else 'FAIL'} {name} (rc={rc})")
    if not ok:
        print(out)
sys.exit(1 if failed else 0)
