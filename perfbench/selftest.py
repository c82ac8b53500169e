"""Fast self-test of the benchmark (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Runs ``run.py`` on small inputs: 2 tiles for ``packets``, 3 queries at
sf0.001 for the registry.  It passes when every metric named in
BENCHMARK.json is emitted with its unit, a clean run reports no failure,
and a corrupted packet or a wrong expected row count makes the error rate
(``failed / attempted``) greater than 0.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SMALL = {
    "packets": ["--tiles", "2"],
    "registry_sf0.1": ["--sf", "0.001", "--queries",
                       "tpch_q1_pricing_summary,dedup_exact,c3_ambivalent_cast"],
}
INJECT = {"packets": "corrupt-packet", "registry_sf0.1": "wrong-count"}


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace),
           *SMALL[workload], *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n"
                           f"{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []

    def expect(cond: bool, what: str):
        print(("ok   " if cond else "FAIL ") + what, flush=True)
        if not cond:
            problems.append(what)

    for w in spec["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run(name, trace)
            expect(set(res) == {"correct", "attempted", "failed", "metrics"},
                   f"{name} trace {trace}: result keys")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                   f"{name} trace {trace}: clean run has no failure")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"]
                       and isinstance(got["value"], float),
                       f"{name} trace {trace}: {m['name']} [{m['unit']}]")
        res = run(name, 0, "--inject", INJECT[name])
        expect(res["failed"] / res["attempted"] > 0 and not res["correct"],
               f"{name}: {INJECT[name]} makes the error rate > 0")
    print(f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
