"""Report and determinism self-test modes: each runs ``run.py`` as a
subprocess per (workload, seed, trace) and summarizes the results."""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

import bench_spec
from run import HELD_OUT_SEED, HERE, ROOT, WORK_ROOT

# counts that must repeat exactly for one seed (INFO line / per-layer)
DETERMINISTIC = {
    "catalog_query": ["input_digest", "metacache_at"],
    "curate": ["input_digest", "round0_changes", "candidate_pairs", "verified_pairs",
               "neardup_found", "sem_removed"],
}


def run(workload: str, seed: int, seconds: float, trace: int, spans: str | None = None) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if spans:
        cmd += ["--spans-out", spans]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    info = next((json.loads(x[5:]) for x in lines if x.startswith("INFO ")), {})
    for x in lines:
        if x.startswith("CHECK FAILED"):
            print(f"  {workload} seed {seed}: {x}")
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return {"result": json.loads(lines[-1]), "info": info}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def workloads_of(args) -> list[str]:
    return [args.workload] if args.workload else [w["name"] for w in bench_spec.spec()["workloads"]]


def report(args) -> int:
    """Per workload: every end-to-end metric's median and quartiles over
    ``--runs`` seeds, then one traced run's per-layer metrics, self
    times per layer and the tracing overhead (traced minus untraced
    end-to-end value, same seed)."""
    spec = bench_spec.spec()
    seconds = args.seconds
    for w in workloads_of(args):
        runs = [run(w, args.seed + i, seconds, 0) for i in range(args.runs)]
        print(f"\n== {w}: {args.runs} untraced runs, seeds {args.seed}..{args.seed + args.runs - 1}, "
              f"{seconds:g} s each")
        print(f"{'metric':28} {'unit':6} {'median':>12} {'q1':>12} {'q3':>12} {'iqr/med':>8}  n")
        for m in spec["end_to_end"]:
            vals = [r["result"]["metrics"][m["name"]]["value"] for r in runs]
            q1, med, q3 = quartiles(vals)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"{m['name']:28} {m['unit']:6} {med:12.4g} {q1:12.4g} {q3:12.4g} "
                  f"{spread:8.3f}  {len(vals)}  (bound {m['bound']})")
        ops = [r["info"].get("ops", 0) for r in runs]
        print(f"operations per run: {ops}; beyond p90: {[r['info'].get('ops_beyond_p90') for r in runs]}")
        failed = sum(r["result"]["failed"] for r in runs)
        print(f"failed operations: {failed} of {sum(r['result']['attempted'] for r in runs)}")

        spans_path = os.path.join(WORK_ROOT, f"spans-{w}-{os.getpid()}.json")
        traced = run(w, args.seed, seconds, 1, spans_path)
        with open(spans_path) as f:
            dump = json.load(f)
        os.remove(spans_path)
        print(f"-- traced run (seed {args.seed}): per-layer metrics")
        for m in spec["per_layer"]:
            v = traced["result"]["metrics"][m["name"]]["value"]
            if v and not m["name"].startswith("self_s."):
                print(f"   {m['name']:40} {v:14.6g} {m['unit']}")
        print("-- self time per layer (s per operation)")
        for m in spec["per_layer"]:
            if m["name"].startswith("self_s."):
                v = traced["result"]["metrics"][m["name"]]["value"]
                if v:
                    print(f"   {m['name'][7:]:28} {v:10.4f}")
        print("-- tracing overhead (traced minus untraced, seed {})".format(args.seed))
        base = runs[0]["result"]["metrics"]
        for k, v in dump["end_to_end"].items():
            b = base[k]["value"]
            rel = (v - b) / b if b else float("nan")
            print(f"   {k:28} {v - b:+12.4g} ({rel:+.1%})")
        os.rmdir(WORK_ROOT)  # held only the spans file
    return 0


def selftest(args) -> int:
    """Same seed twice: identical input digest and deterministic counts.
    Another seed: a different digest."""
    ok = True
    seed, other = args.seed, args.seed + 1
    print(f"held-out seed for later claims: {HELD_OUT_SEED}")
    for w in workloads_of(args):
        a = run(w, seed, args.seconds, 1)
        b = run(w, seed, args.seconds, 1)
        c = run(w, other, args.seconds, 1)
        for k in DETERMINISTIC[w]:
            same = a["info"].get(k) == b["info"].get(k)
            ok &= same
            print(f"{w:14} {k:18} seed {seed} x2: {'identical' if same else 'DIFFERENT'} "
                  f"({a['info'].get(k)})")
        for name in ("dedup.neardup_recall", "pipeline.keys_processed",
                     "changes.state_bytes_per_object"):
            va = a["result"]["metrics"][name]["value"]
            vb = b["result"]["metrics"][name]["value"]
            ok &= va == vb
            print(f"{w:14} {name:18} seed {seed} x2: {'identical' if va == vb else 'DIFFERENT'} ({va})")
        differs = a["info"]["input_digest"] != c["info"]["input_digest"]
        ok &= differs
        print(f"{w:14} input_digest seed {other}: {'different' if differs else 'SAME'}")
        ok &= a["result"]["correct"] and b["result"]["correct"] and c["result"]["correct"]
    print("selftest", "passed" if ok else "FAILED")
    return 0 if ok else 1
