#!/usr/bin/env python3
"""Self-test of the benchmark, run from the root of a checkout:

    python3 perfbench/selftest.py

Tiny-size runs of every workload, untraced and traced, must exit 0, print
every metric the workload names (with its unit) and end with a result line
holding every BENCHMARK.json metric of that mode, with no failed op. A run
whose expected chip count is deliberately wrong must report its ops as
failed, and the catalog's oracle comparison must flag a changed value."""
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# end-to-end metrics each workload prints on its detail lines
NAMED = {
    "flagship": ["setup_s", "pages_per_s", "tiles_chips_per_s", "job_wall_p50_s",
                 "job_wall_min_s", "failed_op_ratio", "peak_rss_mb"],
    "manytile_commit": ["setup_s", "pages_per_s", "tiles_chips_per_s", "job_wall_p50_s",
                        "job_wall_min_s",
                        "chips_committed_per_s", "resume_wall_p50_s", "table_bytes_per_chip",
                        "failed_op_ratio", "peak_rss_mb"],
}


def run(workload, trace, wrong=0):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", str(trace), "--size", "tiny",
                        "--wrong-expect", str(wrong)],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def catalog_check_catches_a_difference():
    """The catalog's oracle comparison must flag one changed value."""
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "perfbench"))
    import catalog
    a = pd.DataFrame({"k": [2, 1], "v": [1.5, 0.5], "s": ["b", "a"]})
    b = a.copy()
    b.loc[0, "v"] = 1.25
    same = catalog._compare(catalog._canon(a.copy()), catalog._canon(a.copy()))
    differs = catalog._compare(catalog._canon(b), catalog._canon(a.copy()))
    return same is None and differs is not None


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    problems = []
    if catalog_check_catches_a_difference():
        print("ok catalog oracle comparison flags a changed value")
    else:
        problems.append("catalog oracle comparison missed a changed value")
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (0, 1):
            lines, res = run(w, trace)
            want = spec["per_layer"] if trace else spec["end_to_end"]
            for m in want:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{w} trace={trace}: metric {m['name']} missing or without unit")
            if trace == 0:
                for name in NAMED[w]:
                    if not any(l.startswith(f"e2e   {name} = ") for l in lines):
                        problems.append(f"{w}: detail line for {name} missing")
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: {res['failed']} of {res['attempted']} ops failed")
            print(f"ok {w} trace={trace}: {res['attempted']} ops, {len(res['metrics'])} metrics")
        _, res = run(w, 0, wrong=1)
        if res["correct"] or res["failed"] < 1:
            problems.append(f"{w}: a wrong expected count was not reported as a failed op")
        else:
            print(f"ok {w} wrong expectation: {res['failed']} of {res['attempted']} ops failed")
    for p in problems:
        print("FAIL", p)
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
