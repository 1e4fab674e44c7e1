#!/usr/bin/env python3
"""Probes the candidate keys of a workload and picks its key list by a
fixed rule, so that the choice can be re-made and checked.

    python3 perfbench/probe.py suite          # every key of SparkEntry.queries
    python3 perfbench/probe.py batch_scaled   # the growth candidates below
    python3 perfbench/probe.py suite --select-only

Run from the root of a checkout, like run.py. A probe runs one JVM: an
untraced warm-up pass over the candidates, then one traced pass (on the
StressGen copy for `batch_scaled`, followed by one traced call per key on
the base tables). The per-key figures go to `results/<workload>_probe.json`
in this directory; the selection, with the table that justifies it, to
`results/<workload>_selection.md` and the key list to `workloads.json`.

Rules:

- `suite` (floor-bound sample of the scored keys): three strata, the
  `catalog_*` keys, the `stream_*` keys and the rest. Within a stratum, keys
  are sorted by module, then by probe wall, and cut into n slices of equal
  count, n = max(1, round(N / k)) for a stratum of N keys; from each slice
  the sample takes the key whose wall is nearest the slice's mean wall. k
  is the smallest step whose sample fits SUITE_PASS_S of probe wall. Each
  slice then stands for k keys at their mean wall, so each stratum's share
  of the sample's wall follows its share of the full suite's (catalog,
  stream, and with them planning); the selection table shows how closely.
- `batch_scaled` (data-bound): among BATCH_CANDIDATES, keys whose wall grew
  at least MIN_GROWTH times from the base tables to the xR copy, taken in
  order of growth while their xR walls fit BATCH_PASS_S.
"""
import argparse
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import layers  # noqa: E402
import run  # noqa: E402

SUITE_PASS_S = 9.0
BATCH_PASS_S = 10.0
MIN_GROWTH = 2.0
# keys whose sf0.1 -> x4 wall grew at least 2x in a count()-timed probe
BATCH_CANDIDATES = [
    "llm_dedup_simhash", "llm_dedup_substring", "llm_perplexity_buckets", "llm_dedup_embed",
    "llm_dedup_near", "join_shuffle_inner", "events_sessionize_gap", "astro_crossmatch_zones",
    "graph_pagerank", "events_interpolate", "llm_contamination_check", "stat_crosstab",
    "join_asof_nearest", "events_anomaly_zscore"]
PROBE_TIMEOUT_S = 3000


def stratum(key):
    if key.startswith("catalog_"):
        return "catalog"
    if key.startswith("stream_"):
        return "stream"
    return "other"


def per_key(result, spans):
    """Per key of the traced pass: wall, planning ms, stream, module; and
    the base-table wall of `base` ops."""
    layers._assign_parents(spans)
    children = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            children[s["parent"]].append(s)
    by_id = {s["id"]: s for s in spans}
    out = {}
    for o in result["ops"]:
        if not o["traced"]:
            continue
        k = out.setdefault(o["name"], {"module": o["module"]})
        if o["error"]:
            k["error"] = o["error"]
            continue
        if o["kind"] == "base":
            k["wall_x1_s"] = o["wall_ms"] / 1e3
            continue
        desc = layers._descendants(children, by_id[o["span"]])
        k["wall_s"] = o["wall_ms"] / 1e3
        k["plan_s"] = sum(g["t1"] - g["t0"] for g in desc if g["kind"] == "phase") / 1e3
        k["jobs"] = sum(1 for g in desc if g["kind"] == "job")
    return out


def probe(workload):
    run.prepare()
    base = run.base_data()
    cores = os.cpu_count() or 1
    common = ["--seconds", "0", "--min-passes", "2", "--check", "0", "--cores", str(cores)]
    if workload == "suite":
        extra = ["--keys", "all", "--data", base] + common
    else:
        r = run.WORKLOADS["batch_scaled"]["scale"]
        data = run.stress_data(base, r)
        extra = ["--keys", ",".join(BATCH_CANDIDATES), "--data", data, "--base", base] + common
    result, spans, _ = run.run_jvm(f"probe-{workload}", 0, 0, 1, extra, PROBE_TIMEOUT_S)
    keys = per_key(result, spans)
    path = os.path.join(HERE, "results", f"{workload}_probe.json")
    with open(path, "w") as f:
        json.dump(keys, f, indent=1, sort_keys=True)
        f.write("\n")
    run.log(f"probe of {len(keys)} keys written to {path}")


def shares(keys, names):
    wall = sum(keys[k]["wall_s"] for k in names)
    cat = sum(keys[k]["wall_s"] for k in names if stratum(k) == "catalog")
    st = sum(keys[k]["wall_s"] for k in names if stratum(k) == "stream")
    plan = sum(keys[k]["plan_s"] for k in names)
    return {"keys": len(names), "wall_s": wall, "catalog": cat / wall, "stream": st / wall,
            "planning": plan / wall,
            "key_p50_s": statistics.median(keys[k]["wall_s"] for k in names)}


def systematic(keys, step):
    strata = defaultdict(list)
    for k in keys:
        strata[stratum(k)].append(k)
    picked = []
    for _, ks in sorted(strata.items()):
        ks.sort(key=lambda k: (keys[k]["module"], keys[k]["wall_s"], k))
        n = max(1, round(len(ks) / step))
        for i in range(n):
            part = ks[len(ks) * i // n:len(ks) * (i + 1) // n]
            mean = sum(keys[k]["wall_s"] for k in part) / len(part)
            picked.append(min(part, key=lambda k: (abs(keys[k]["wall_s"] - mean), k)))
    return sorted(picked)


def select_suite(keys):
    failed = sorted(k for k, v in keys.items() if "error" in v)
    ok = {k: v for k, v in keys.items() if "error" not in v}
    step = 1
    while True:
        picked = systematic(ok, step)
        if sum(ok[k]["wall_s"] for k in picked) <= SUITE_PASS_S or step >= len(ok):
            break
        step += 1
    full, sample = shares(ok, list(ok)), shares(ok, picked)
    lines = [
        "# Suite sample",
        "",
        f"Chosen by `probe.py suite` from a traced probe of all {len(keys)} keys of",
        "`SparkEntry.queries` on the base tables (`suite_probe.json`). Strata: `catalog_*`",
        "keys, `stream_*` keys, the rest. Within a stratum, keys sorted by module and probe",
        f"wall and cut into round(N / {step}) slices of equal count (at least one); from each",
        f"slice, the key nearest the slice's mean wall. {step} is the smallest step whose",
        f"sample fits {SUITE_PASS_S:g} s of probe wall. Walls are from the traced pass, on a",
        "shared 4-vCPU x86_64 VM (OpenJDK 17, Spark 4.1.2, `local[4]`).",
        "",
        "| | keys | wall (s) | catalog share | stream share | planning share | key p50 (s) |",
        "|---|---|---|---|---|---|---|",
    ]
    for name, sh in (("full suite", full), ("sample", sample)):
        lines.append(f"| {name} | {sh['keys']} | {sh['wall_s']:.2f} | {sh['catalog']:.3f} | "
                     f"{sh['stream']:.3f} | {sh['planning']:.3f} | {sh['key_p50_s']:.3f} |")
    lines += ["", "| module | keys | wall (s) | sampled |", "|---|---|---|---|"]
    modules = defaultdict(list)
    for k, v in ok.items():
        modules[v["module"]].append(k)
    for m, ks in sorted(modules.items()):
        lines.append(f"| {m} | {len(ks)} | {sum(ok[k]['wall_s'] for k in ks):.2f} | "
                     f"{', '.join(k for k in picked if k in ks)} |")
    if failed:
        lines += ["", "Keys that failed in the probe (not sampled, named here): "
                  + ", ".join(f"`{k}` ({keys[k]['error'][:120]})" for k in failed)]
    return picked, lines


def select_batch(keys, scale):
    rows = []
    for k in BATCH_CANDIDATES:
        v = keys.get(k, {})
        if "error" in v or "wall_x1_s" not in v or "wall_s" not in v:
            rows.append((k, None, None, None, v.get("error", "no probe figure")))
            continue
        rows.append((k, v["wall_x1_s"], v["wall_s"], v["wall_s"] / v["wall_x1_s"], None))
    picked, used = [], 0.0
    for k, w1, wr, g, err in sorted(rows, key=lambda r: -(r[3] or 0)):
        if err is None and g >= MIN_GROWTH and used + wr <= BATCH_PASS_S:
            picked.append(k)
            used += wr
    lines = [
        "# Batch key selection",
        "",
        f"Chosen by `probe.py batch_scaled` from a traced probe of the candidates on the",
        f"base tables (x1) and on the StressGen x{scale} copy (`batch_scaled_probe.json`),",
        "on a shared 4-vCPU x86_64 VM (OpenJDK 17, Spark 4.1.2, `local[4]`).",
        f"Rule: keys whose wall grew at least {MIN_GROWTH:g}x, in order of growth, while their",
        f"x{scale} walls fit {BATCH_PASS_S:g} s per pass.",
        "",
        f"| key | wall x1 (s) | wall x{scale} (s) | growth | chosen |",
        "|---|---|---|---|---|",
    ]
    for k, w1, wr, g, err in sorted(rows, key=lambda r: -(r[3] or 0)):
        if err:
            lines.append(f"| {k} | | | | failed: {err[:120]} |")
        else:
            lines.append(f"| {k} | {w1:.3f} | {wr:.3f} | {g:.2f} | {'yes' if k in picked else ''} |")
    return sorted(picked), lines


def select(workload):
    keys = json.load(open(os.path.join(HERE, "results", f"{workload}_probe.json")))
    spec = run.WORKLOADS[workload]
    if workload == "suite":
        picked, lines = select_suite(keys)
    else:
        picked, lines = select_batch(keys, spec["scale"])
    with open(os.path.join(HERE, "results", f"{workload}_selection.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    spec["keys"] = picked
    with open(os.path.join(HERE, "workloads.json"), "w") as f:
        json.dump(run.WORKLOADS, f, indent=1)
        f.write("\n")
    print("\n".join(lines))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload", choices=["suite", "batch_scaled"])
    ap.add_argument("--select-only", action="store_true",
                    help="re-apply the rule to the committed probe figures")
    a = ap.parse_args()
    if not a.select_only:
        probe(a.workload)
    select(a.workload)


if __name__ == "__main__":
    main()
