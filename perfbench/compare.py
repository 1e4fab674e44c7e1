#!/usr/bin/env python3
"""Compares a change with its parent on the benchmark.

    python3 perfbench/compare.py --parent <parent checkout> --change <change checkout> \
        [--workloads suite,batch_scaled] [--pairs 10]

Runs `perfbench/run.py` of each checkout from that checkout's root, in
pairs that share a seed, alternating which side runs first, for the
change's `run_seconds`. The runs are appended to `<out>/runs.jsonl`, so
an interrupted comparison can be re-judged with `--judge-only`. For every
workload and end-to-end metric, and for the unbounded wall-clock figures
run.py prints on the line before its result, it prints each side's
median and quartiles, the change's win fraction and the verdict of
`stats.compare` under the metric's bound from the change's BENCHMARK.json
(no bound for the wall-clock figures). The exit code is 1 when a metric
is worse than the parent's by more than its bound.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def run_once(checkout, workload, seed, seconds):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        raise RuntimeError(f"{checkout}: {workload} seed {seed} exited {r.returncode}")
    res = json.loads(lines[-1])
    for line in lines[:-1]:
        if line.startswith('{"unbounded"'):
            res["unbounded"] = json.loads(line)["unbounded"]
    return res


def collect(a, seconds, path):
    with open(path, "a") as out:
        for w in a.workloads.split(","):
            for i in range(a.pairs):
                seed = i + 1
                order = [("parent", a.parent), ("change", a.change)]
                if i % 2:
                    order.reverse()
                for side, checkout in order:
                    res = run_once(checkout, w, seed, seconds)
                    out.write(json.dumps({"workload": w, "pair": i, "seed": seed,
                                          "side": side, "result": res}) + "\n")
                    out.flush()
                    print(f"{w} pair {i} {side}: correct={res['correct']}", file=sys.stderr)


def judge(path, bench):
    rows = [json.loads(x) for x in open(path) if x.strip()]
    bounds = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    verdicts = []
    for w in sorted({r["workload"] for r in rows}):
        pairs = {}
        for r in rows:
            if r["workload"] == w:
                pairs.setdefault(r["pair"], {})[r["side"]] = r["result"]
        full = [p for _, p in sorted(pairs.items()) if len(p) == 2]
        if len(full) < 2:
            continue
        bad = sum(1 for p in full for s in p.values() if not s["correct"])
        print(f"\n{w}: {len(full)} pairs, {bad} runs with failed checks")
        print(f"{'metric':28} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30} "
              f"{'win':>5} {'delta':>7}  verdict")
        names = [(g, n) for g in ("metrics", "unbounded") for n in full[0]["parent"].get(g, {})
                 if all(n in s.get(g, {}) for x in full for s in x.values())]
        for group, name in names:
            spec = bounds.get(name, {"better": "lower"})
            p = [x["parent"][group][name]["value"] for x in full]
            c = [x["change"][group][name]["value"] for x in full]
            if not any(p) and not any(c):
                continue
            v = stats.compare(p, c, spec["better"], spec.get("bound"))
            q = lambda t: f"{t[1]:.4g} [{t[0]:.4g}, {t[2]:.4g}]"  # noqa: E731
            print(f"{name:28} {q(v['parent']):>30} {q(v['change']):>30} "
                  f"{v['win_fraction']:5.2f} {v['change_vs_parent']:+7.1%}  {v['verdict']}")
            verdicts.append((w, name, v["verdict"]))
    return verdicts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workloads", default="suite,batch_scaled")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--out", default=".bench_build/compare")
    ap.add_argument("--judge-only", action="store_true")
    a = ap.parse_args()
    bench = json.load(open(os.path.join(a.change, "BENCHMARK.json")))
    os.makedirs(a.out, exist_ok=True)
    path = os.path.join(a.out, "runs.jsonl")
    if not a.judge_only:
        collect(a, bench["run_seconds"], path)
    verdicts = judge(path, bench)
    worse = [f"{w}/{n}" for w, n, v in verdicts if v == "worse"]
    if worse:
        print(f"\nworse than the parent beyond the bound: {', '.join(worse)}")
    sys.exit(1 if worse else 0)


if __name__ == "__main__":
    main()
