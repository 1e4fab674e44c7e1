"""Turns one run's result and trace into the benchmark's metrics.

End-to-end metrics come from untraced ops. Per-layer metrics come from
the traced passes of a `--trace 1` run and are given per pass over the
workload's key list, so runs that fit a different number of passes into
`--seconds` stay comparable.
"""
import json
import os
import statistics
from collections import defaultdict

import stats

STREAM_DURATIONS = {"trigger_ms": "d.triggerExecution", "add_batch_ms": "d.addBatch",
                    "get_batch_ms": "d.getBatch", "latest_offset_ms": "d.latestOffset",
                    "query_planning_ms": "d.queryPlanning", "wal_commit_ms": "d.walCommit",
                    "commit_offsets_ms": "d.commitOffsets"}


def _timed(result):
    """Successful timed ops (the untimed check pass before them is each
    key's warm-up)."""
    return [o for o in result["ops"] if o["kind"] != "base" and not o["error"]]


def _key_sum(ops, field):
    by = defaultdict(list)
    for o in ops:
        by[o["name"]].append(o[field])
    return sum(stats.per_key_medians(by).values())


def _op_p50(ops):
    by = defaultdict(list)
    for o in ops:
        by[o["name"]].append(o["wall_ms"])
    return statistics.median(stats.per_key_medians(by).values())


def end_to_end(result):
    ops = [o for o in _timed(result) if not o["traced"]]
    return {"setup_s": result["setup_s"], "cpu_s": _key_sum(ops, "cpu_ms") / 1e3}


def unbounded(result):
    """Wall-clock figures of the untraced passes, as (value, unit): the sum
    over keys of each key's median wall, and the median of those medians."""
    ops = [o for o in _timed(result) if not o["traced"]]
    return {"run.wall_s": (_key_sum(ops, "wall_ms") / 1e3, "s"),
            "run.op_p50_ms": (_op_p50(ops), "ms")}


def _assign_parents(spans):
    """Parents each listener span to the innermost benchmark span that
    holds its start. Jobs keep to the op their job tag names; phase,
    statement and stream spans carry no tag and go by time alone."""
    bench = sorted((s for s in spans if s["kind"] in ("op", "build", "execute")),
                   key=lambda s: s["t0"])
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        if s["kind"] in ("op", "build", "execute") or s["kind"] == "phase":
            continue
        tagged = by_id[s["parent"]] if s["kind"] == "job" and s["parent"] >= 0 else None
        if s["parent"] >= 0 and tagged is None:
            continue
        best = tagged
        for b in bench:
            inside = b["t0"] <= s["t0"] <= b["t1"]
            mine = tagged is None or b["id"] == tagged["id"] or b["parent"] == tagged["id"]
            if inside and mine and (best is None or b["t0"] >= best["t0"]):
                best = b
        if best is not None:
            s["parent"] = best["id"]


def per_layer(workload, result, spans, scale, cores):
    _assign_parents(spans)
    by_id = {s["id"]: s for s in spans}

    def op_of(s):
        while s is not None and s["kind"] != "op":
            s = by_id.get(s["parent"])
        return s

    ops = _timed(result)
    traced = [o for o in ops if o["traced"] and o["kind"] != "base"]
    # the first untraced pass is less warm than the traced one after it
    untraced = [o for o in ops if not o["traced"] and o["pass"] > 0] or \
        [o for o in ops if not o["traced"]]
    traced_spans = {o["span"] for o in traced}
    passes = len({o["pass"] for o in traced}) or 1

    m = defaultdict(float)
    # spans that belong to a traced op of the measured passes
    for s in spans:
        op = op_of(s)
        if op is None or op["id"] not in traced_spans:
            continue
        c = s["counts"]
        if s["kind"] == "phase":
            key = {"analysis": "plan.analysis_ms", "optimization": "plan.optimization_ms",
                   "planning": "plan.physical_ms"}.get(s["name"])
            if key:
                m[key] += s["t1"] - s["t0"]
        elif s["kind"] == "statement":
            m["plan.statements"] += c.get("statements", 0)
        elif s["kind"] == "job":
            m["sched.jobs"] += 1
            m["sched.stages"] += c.get("stages", 0)
            m["sched.tasks"] += c.get("tasks", 0)
            m["sched.task_wait_s"] += c.get("task_wait_ms", 0) / 1e3
            m["exec.task_s"] += c.get("task_ms", 0) / 1e3
            m["exec.task_cpu_s"] += c.get("task_cpu_ms", 0) / 1e3
            m["exec.straggler_s"] += c.get("straggler_ms", 0) / 1e3
            m["shuffle.write_mb"] += c.get("shuffle_write_b", 0) / 2**20
            m["shuffle.read_mb"] += c.get("shuffle_read_b", 0) / 2**20
            m["shuffle.fetch_wait_ms"] += c.get("fetch_wait_ms", 0)
            m["spill.mem_mb"] += c.get("spill_mem_b", 0) / 2**20
            m["spill.disk_mb"] += c.get("spill_disk_b", 0) / 2**20
            m["scan.input_mb"] += c.get("input_b", 0) / 2**20
            m["scan.input_rows"] += c.get("input_rows", 0)
        elif s["kind"] == "stream":
            m["stream.queries"] += 1
            m["stream.batches"] += c.get("batches", 0)
            m["stream.input_rows"] += c.get("input_rows", 0)
            m["stream.start_ms"] += c.get("start_ms", 0)
            m["stream.state_commit_ms"] += c.get("state_commit_ms", 0)
            m["stream.state_rows"] += c.get("state_rows", 0)
            for name, k in STREAM_DURATIONS.items():
                m["stream." + name] += c.get(k, 0)

    # benchmark spans: op self time split, coverage
    covered = total = 0.0
    self_build = self_exec = 0.0
    children = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            children[s["parent"]].append(s)
    for o in traced:
        op = by_id[o["span"]]
        kids = children[op["id"]]
        total += op["t1"] - op["t0"]
        covered += stats.union_length([(k["t0"], k["t1"]) for k in kids])
        for k in kids:
            inner = [(g["t0"], g["t1"]) for g in _descendants(children, k)
                     if g["kind"] in ("job", "statement", "stream")]
            st = stats.self_time((k["t0"], k["t1"]), inner)
            if k["kind"] == "build":
                self_build += st
            elif k["kind"] == "execute":
                self_exec += st

    for o in traced:
        m["ops.build_s"] += o["build_ms"] / 1e3
        m["codegen.compiles"] += o["compiles"]
        m["jvm.gc_ms"] += o["gc_ms"]
        m["jvm.jit_ms"] += o["jit_ms"]
        m[f"ops.{o['module']}.wall_s"] += o["wall_ms"] / 1e3
        op = by_id[o["span"]]
        for k in ("commits", "files", "bytes"):
            m[f"catalog.{k}"] += op["counts"].get(f"catalog_{k}", 0)
        if o["name"].startswith("catalog_"):
            # driver-side catalog work: the key's wall outside planning
            # phases and Spark jobs (commits, manifests, file listing)
            m["catalog.wall_s"] += o["wall_ms"] / 1e3
            inner = [(g["t0"], g["t1"]) for g in _descendants(children, op)
                     if g["kind"] in ("phase", "job")]
            m["catalog.self_ms"] += stats.self_time((op["t0"], op["t1"]), inner)
        if o["name"].startswith("stream_") or o["module"] == "streaming":
            m["stream.keys_wall_s"] += o["wall_ms"] / 1e3
    m["self.build_s"] = self_build / 1e3
    m["self.execute_s"] = self_exec / 1e3
    m["catalog.mb"] = m.pop("catalog.bytes") / 2**20

    out = {k: v / passes for k, v in m.items()}
    # the tail: the highest percentile with at least ten timed ops beyond it
    walls = [o["wall_ms"] for o in ops]
    q = stats.highest_supported_percentile(len(walls))
    out["ops.samples"] = len(walls)
    out["ops.tail_pct"] = q or 0
    out["ops.tail_ms"] = stats.percentile(walls, q) if q else 0.0
    wall_t = _key_sum(traced, "wall_ms") / 1e3
    wall_u = _key_sum(untraced, "wall_ms") / 1e3
    out["exec.util"] = out.get("exec.task_s", 0.0) / (wall_t * cores) if wall_t else 0.0
    # the planning share of the traced wall, for the suite sample check
    out["plan.share"] = (out.get("plan.analysis_ms", 0.0) + out.get("plan.optimization_ms", 0.0)
                         + out.get("plan.physical_ms", 0.0)) / 1e3 / wall_t if wall_t else 0.0
    out["setup.session_s"] = result["session_s"]
    out["jvm.live_heap_mb"] = result["live_heap_mb"]
    out["trace.coverage"] = covered / total if total else 0.0
    out["trace.overhead"] = wall_t / wall_u - 1 if wall_u else 0.0
    # the same from CPU time, which other tenants of the host move less
    cpu_t, cpu_u = _key_sum(traced, "cpu_ms"), _key_sum(untraced, "cpu_ms")
    out["trace.cpu_overhead"] = cpu_t / cpu_u - 1 if cpu_u else 0.0
    all_passes = len({o["pass"] for o in result["ops"] if o["kind"] != "base"}) or 1
    out["bench.hygiene_s"] = result["hygiene_ms"] / 1e3 / all_passes

    if workload == "batch_scaled":
        fs = floor_slope(result, scale)
        out["batch.floor_s"] = sum(v["floor_s"] for v in fs.values())
        out["batch.slope_s"] = sum(v["slope_s"] for v in fs.values())
    return {x["name"]: float(out.get(x["name"], 0.0)) for x in declared("per_layer")}


def declared(kind):
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
    with open(path) as f:
        return json.load(f)[kind]


def _descendants(children, s):
    out = []
    stack = list(children.get(s["id"], []))
    while stack:
        c = stack.pop()
        out.append(c)
        stack.extend(children.get(c["id"], []))
    return out


def plan_check(spans):
    """Keys whose timed write lost the root Sort or an output column of
    the key's own DataFrame, from a traced run's spans."""
    _assign_parents(spans)
    children = defaultdict(list)
    for s in spans:
        if s["parent"] >= 0:
            children[s["parent"]].append(s)
    bad = {}
    for op in spans:
        want = op["counts"]
        if op["kind"] != "op" or "expect_cols" not in want:
            continue
        writes = [w["counts"] for e in children[op["id"]] if e["kind"] == "execute"
                  for w in _descendants(children, e) if "write_cols" in w["counts"]]
        if not writes:
            bad[op["name"]] = "no traced write"
        elif want["expect_sort"] and not any(w["write_sort"] for w in writes):
            bad[op["name"]] = "timed write lost the root Sort"
        elif not any(w["write_cols"] == want["expect_cols"] for w in writes):
            bad[op["name"]] = "timed write lost output columns"
    return bad


def floor_slope(result, scale):
    """Per key: wall = floor + slope * x, fitted through the key's fastest
    traced wall on the base tables (x = 1) and on the scaled copy
    (x = scale); the fastest call is the warmest one."""
    base = defaultdict(list)
    scaled = defaultdict(list)
    for o in result["ops"]:
        if o["error"]:
            continue
        if o["kind"] == "base":
            base[o["name"]].append(o["wall_ms"] / 1e3)
        elif o["traced"]:
            scaled[o["name"]].append(o["wall_ms"] / 1e3)
    out = {}
    for k in sorted(set(base) & set(scaled)):
        w1, wr = min(base[k]), min(scaled[k])
        slope = (wr - w1) / (scale - 1)
        out[k] = {"wall_x1_s": w1, f"wall_x{scale}_s": wr, "slope_s": slope,
                  "floor_s": w1 - slope}
    return out


def write_floor_slope(result, scale, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    fs = floor_slope(result, scale)
    lines = [f"| key | wall x1 (s) | wall x{scale} (s) | floor (s) | slope per x1 (s) |",
             "|---|---|---|---|---|"]
    for k, v in fs.items():
        lines.append(f"| {k} | {v['wall_x1_s']:.3f} | {v[f'wall_x{scale}_s']:.3f} | "
                     f"{v['floor_s']:.3f} | {v['slope_s']:.3f} |")
    with open(os.path.join(out_dir, "floor_slope.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(out_dir, "floor_slope.json"), "w") as f:
        json.dump(fs, f, indent=1)
