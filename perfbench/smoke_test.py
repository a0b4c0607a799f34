#!/usr/bin/env python3
"""The benchmark's own test: runs the smoke size of every workload once
untraced and once traced, and checks that outputs are correct and that every
metric BENCHMARK.json names is emitted with its unit.

    python3 perfbench/smoke_test.py
"""
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = {"0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
              "1": {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace in ("0", "1"):
            cmd = spec["command"] + ["--workload", w, "--seed", "7", "--seconds", "1",
                                     "--trace", trace, "--smoke"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            tag = f"{w} trace={trace}"
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {out.returncode}\n{out.stderr[-3000:]}")
                continue
            res = json.loads(lines[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res.get("correct") or res.get("failed") != 0 or res.get("attempted", 0) < 1:
                problems.append(f"{tag}: correct={res.get('correct')} failed={res.get('failed')}"
                                f" attempted={res.get('attempted')}\n{lines[-2][:3000]}")
            got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
            if got != wanted[trace]:
                missing = sorted(set(wanted[trace]) - set(got))
                extra = sorted(set(got) - set(wanted[trace]))
                wrong = sorted(k for k in got if k in wanted[trace] and got[k] != wanted[trace][k])
                problems.append(f"{tag}: missing {missing} extra {extra} wrong unit {wrong}")
            for k, v in res.get("metrics", {}).items():
                if not isinstance(v.get("value"), (int, float)):
                    problems.append(f"{tag}: {k} has no numeric value")
            print(f"ok  {tag}" if not problems or not problems[-1].startswith(tag)
                  else f"BAD {tag}", flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
