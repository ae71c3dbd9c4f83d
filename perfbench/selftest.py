#!/usr/bin/env python3
"""Benchmark self-test at sf0.001.

Runs every workload of BENCHMARK.json at scale factor 0.001, once
untraced and once traced, and checks that the last stdout line is one
JSON object with the keys correct, attempted, failed and metrics; that
the untraced run prints exactly the end-to-end metrics of BENCHMARK.json
and the traced run exactly the per-layer metrics, each with its unit;
that every result passed its check (ok_frac 1.0, correct, failed 0).

    python3 perfbench/selftest.py [workload ...]
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return None, f"exit {out.returncode}: {out.stderr.strip()[-400:]}"
    try:
        return json.loads(lines[-1]), None
    except ValueError:
        return None, "last line is not JSON: " + lines[-1][:200]


def check(result, expected):
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"keys {sorted(result)}")
    got = {k: v.get("unit") for k, v in result.get("metrics", {}).items()}
    if got != expected:
        errors.append(f"metrics differ: missing {sorted(set(expected) - set(got))}, "
                      f"extra {sorted(set(got) - set(expected))}, "
                      f"units {sorted(k for k in got if k in expected and got[k] != expected[k])}")
    if not (result.get("correct") is True and result.get("failed") == 0
            and result.get("attempted", 0) >= 1):
        errors.append(f"correct={result.get('correct')} attempted={result.get('attempted')} "
                      f"failed={result.get('failed')}")
    ok = result.get("metrics", {}).get("ok_frac")
    if ok is not None and ok["value"] != 1.0:
        errors.append(f"ok_frac {ok['value']}")
    return errors


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    workloads = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    failures = 0
    for w in workloads:
        for trace, expected in ((0, e2e), (1, layers)):
            result, err = run(w, trace)
            errors = [err] if err else check(result, expected)
            failures += bool(errors)
            print(f"{'FAIL' if errors else 'ok  '} {w} trace={trace}"
                  + ("".join("\n     " + e for e in errors)), flush=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
