#!/usr/bin/env python3
"""PQ-default recall-regression gate (the r15 ask: ks/kAdc are fixed
constants — the knob class that has bitten three times — so the round
close must FAIL loudly if corpus growth erodes the default operating
point instead of letting recall rot silently).

Runs graft.tools.IvfPqBench at the LIBRARY DEFAULTS (ks=256, kAdc=1000,
nProbe=4, k=10) against the largest standing fixture and asserts
rerank recall@10 >= 0.95 (the measured sf10 point is 0.985 — the
plain-IVF nProbe=4 pruning ceiling). Writes RECALL_GATE.json beside
the bench artifacts; exits non-zero on a miss so the round close can't
quietly carry a regressed default.

Usage: python3 tools/recall_gate.py [sfDir] [minRecall=0.95]
  With no sfDir, picks the largest gate-scale fixture that exists:
  /tmp/sf10 > /tmp/sf3 > fixtures/sf1.0 (regenerate one with
  tools/gen_sf1.py first). A smaller fixture is never picked: at the
  sf0.1 test fixture's 2,000 vectors the nProbe=4 IVF ceiling is 0.945,
  under the floor on every tree.
"""
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CANDIDATES = ["/tmp/sf10", "/tmp/sf3", os.path.join(REPO, "fixtures", "sf1.0")]


def pick():
    for c in CANDIDATES:
        if os.path.isfile(os.path.join(c, "embeddings.parquet")):
            return c
    sys.exit("no gate-scale fixture found (looked in " + ", ".join(CANDIDATES) +
             "); generate one with: python3 tools/gen_sf1.py <dir> 100")


sf = sys.argv[1] if len(sys.argv) > 1 else pick()
min_recall = float(sys.argv[2]) if len(sys.argv) > 2 else 0.95

cp = subprocess.run(
    ["sbt", "-batch", f"runMain graft.tools.IvfPqBench {sf} 20 10 4 256 1000"],
    cwd=REPO, capture_output=True, text=True, timeout=3600,
    env={**os.environ, "SPARK_GRAFT_CPUS": "16"})
m = None
for line in cp.stdout.splitlines():
    line = re.sub(r"^\[info\]\s*", "", line.strip())
    if line.startswith('{"sf_dir"'):
        m = json.loads(line)
if m is None:
    print(cp.stdout[-3000:])
    print(cp.stderr[-1000:])
    sys.exit("IvfPqBench produced no JSON line")

recall = m["rerank_recall_at_10"]
result = {
    "gate": "pq_default_rerank_recall",
    "sf_dir": sf,
    "n_vecs": m["n_vecs"],
    "defaults": {"ks": 256, "k_adc": 1000, "n_probe": 4, "k": 10},
    "rerank_recall_at_10": recall,
    "min_recall": min_recall,
    "pass": recall >= min_recall,
    "full_measurement": m,
}
# POST-TAKEDOWN leg (the r17 ask): DeletionBench measures rerank
# recall@10 at the same defaults on a layout left by a 10% takedown +
# physical purge, and emits it into BENCH_delete.json — merge that row
# into the gate so a round close asserts BOTH operating points.
try:
    with open(os.path.join(REPO, "BENCH_delete.json")) as f:
        db = json.load(f)
    if "pq_recall_after_purge" in db:
        result["post_takedown"] = {
            "sf_dir": db.get("sf_dir"),
            "rerank_recall_at_10": db["pq_recall_after_purge"],
            "min_recall": db.get("pq_recall_min", min_recall),
            "pass": bool(db.get("pq_recall_pass",
                                db["pq_recall_after_purge"] >= min_recall)),
        }
except (FileNotFoundError, json.JSONDecodeError):
    pass

ok = result["pass"] and result.get("post_takedown", {}).get("pass", True)
with open(os.path.join(REPO, "RECALL_GATE.json"), "w") as f:
    json.dump(result, f, indent=1)
print(f"recall@10 = {recall} at {sf} "
      f"({'PASS' if result['pass'] else 'FAIL'}, floor {min_recall})")
if "post_takedown" in result:
    pt = result["post_takedown"]
    print(f"post-takedown recall@10 = {pt['rerank_recall_at_10']} at "
          f"{pt['sf_dir']} ({'PASS' if pt['pass'] else 'FAIL'})")
sys.exit(0 if ok else 1)
