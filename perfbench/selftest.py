#!/usr/bin/env python3
"""Self-test of the benchmark harness at tiny size (sf0.001 catalog data,
a few thousand generated documents). Checks that

  1. every metric in BENCHMARK.json is printed with its unit, for every
     workload, with tracing off (end-to-end) and on (per-layer);
  2. an injected throwing query is counted as failed and makes the command
     exit non-zero;
  3. two seeds produce different inputs.

Run from the repository root:  python3 perfbench/selftest.py
Takes a few minutes; exits non-zero on the first failed check."""
import json
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def run(workload, seed, trace, *extra):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace), "--size", "tiny", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines else None
    detail = json.loads(lines[-2])["detail"] if len(lines) > 1 else {}
    return p.returncode, result, detail


def check(ok, what):
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main():
    for w in SPEC["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            code, result, _ = run(w["name"], 1, trace)
            check(code == 0 and result is not None and result["correct"],
                  f"{w['name']} trace={trace} runs clean (exit {code})")
            printed = result["metrics"]
            for m in SPEC[key]:
                got = printed.get(m["name"])
                check(got is not None and isinstance(got.get("value"), (int, float))
                      and got.get("unit") == m["unit"],
                      f"{w['name']} trace={trace} prints {m['name']} [{m['unit']}]")
            check(set(printed) == {m["name"] for m in SPEC[key]},
                  f"{w['name']} trace={trace} prints no metric outside BENCHMARK.json")

    code, result, _ = run("catalog", 1, 0, "--inject-failure")
    check(code != 0, f"injected failing query gives a non-zero exit (exit {code})")
    check(result is not None and result["failed"] >= 1 and not result["correct"],
          "injected failing query is counted as failed")

    inputs = [run("kg_pipeline", seed, 0)[2].get("input") for seed in (1, 2)]
    check(all(inputs) and inputs[0]["first_doc_id"] != inputs[1]["first_doc_id"],
          "two seeds generate different document ranges")
    check(inputs[0] != inputs[1], "two seeds produce different input properties")
    print("selftest passed")


if __name__ == "__main__":
    main()
