"""Fast self-check of the benchmark on sf0.001 tables and a tiny maildir.

Runs every workload at ``--scale tiny``, untraced and traced, and checks
that each run passes its own correctness gate and that its last line
carries every metric ``BENCHMARK.json`` names for that mode, with the
declared unit. Then runs ``olap_mix`` with ``--corrupt-expected`` and
checks that the gate trips: exit code 1 and ``"correct": false``.

Usage, from the repository root::

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = [sys.executable, os.path.join(ROOT, "perfbench", "run.py")]
WORKLOADS = ("olap_mix", "graph_fixpoint", "email_ingest")


def _run(args: list[str]) -> tuple[int, dict]:
    proc = subprocess.run(RUN + args, cwd=ROOT, capture_output=True,
                          text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.stderr.write(proc.stderr[-4000:])
        return proc.returncode, {}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    problems = []
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            args = ["--workload", w, "--seed", "7", "--seconds", "1",
                    "--trace", str(trace), "--scale", "tiny"]
            code, out = _run(args)
            got = out.get("metrics", {})
            want = {m["name"]: m["unit"] for m in spec[key]}
            bad = {n: got.get(n, {}).get("unit") for n in want
                   if got.get(n, {}).get("unit") != want[n]}
            if code != 0 or not out.get("correct") or bad:
                problems.append(f"{w} trace={trace}: exit {code}, "
                                f"correct={out.get('correct')}, "
                                f"missing or wrong unit: {sorted(bad)}")
            print(f"{w} trace={trace}: exit {code}, {len(got)} metrics",
                  flush=True)
    code, out = _run(["--workload", "olap_mix", "--seed", "7", "--seconds",
                      "1", "--trace", "0", "--scale", "tiny",
                      "--corrupt-expected"])
    if code != 1 or out.get("correct") is not False or not out.get("failed"):
        problems.append(f"wrong expected digest did not trip the gate: "
                        f"exit {code}, {out.get('correct')}")
    print(f"gate with a wrong expected digest: exit {code}, "
          f"failed {out.get('failed')}", flush=True)
    for p in problems:
        print("FAIL", p)
    print("selfcheck", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
