"""Interleaved A/B of perfbench runs between two checkouts.

    python3 ab.py PARENT_DIR CHANGE_DIR WORKLOAD FIRST_SEED N OUT.jsonl

Pair i runs seed FIRST_SEED+i in both checkouts, alternating which side
goes first; each run's last stdout line (the result) is appended to OUT
with its side, seed and order."""
import json, subprocess, sys, time
parent, change, workload, first, n, out = sys.argv[1:7]
for i in range(int(n)):
    seed = int(first) + i
    sides = [("parent", parent), ("change", change)]
    if i % 2:
        sides.reverse()
    for order, (side, d) in enumerate(sides):
        t0 = time.time()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", str(seed), "--seconds", "10", "--trace", "0"],
                           cwd=d, capture_output=True, text=True)
        lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
        rec = {"side": side, "seed": seed, "pair": i, "order": order,
               "returncode": p.returncode, "run_s": round(time.time() - t0, 1),
               "host": json.loads(lines[0]) if len(lines) > 1 else None,
               "result": json.loads(lines[-1]) if lines else None}
        with open(out, "a") as f:
            f.write(json.dumps(rec) + "\n")
