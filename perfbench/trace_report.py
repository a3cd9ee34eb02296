"""Per-layer metrics of a traced run.

Reads the client's ``trace.json`` (driver spans plus Spark listener jobs,
stages and SQL executions of the traced rounds) and ``kernels.json``,
writes every span with its self time to ``spans.jsonl`` beside them, and
returns the per-layer metrics: for each traced round a total, then the
median over traced rounds. A span's self time is its duration minus the
part of its interval that its child spans cover.
"""
import json
import os
import statistics
from collections import defaultdict

# query packs whose cold and warm time is reported, one pair each
PACKS = ["ScanQueries", "FilterQueries", "JoinQueries", "EtlQueries",
         "LlmQueries"]
KERNELS = ["cosine_sim", "dot_product", "minhash_sig", "simhash60",
           "gram_md5", "winnow_sels", "topk_by_score"]
MB = 1e6


def covered(intervals, lo, hi):
    """Length of the union of intervals, clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def spans_with_self(trace):
    spans = [dict(s) for s in trace["spans"]]
    for j in trace["jobs"]:
        g = j["group"]
        spans.append({"trace": ":".join(g.split(":")[:2]), "id": f"job{j['job']}",
                      "parent": g, "kind": "job",
                      "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
    for s in trace["stages"]:
        g = s["group"]
        spans.append({"trace": ":".join(g.split(":")[:2]),
                      "id": f"stage{s['stage']}.{s['attempt']}",
                      "parent": f"job{s['job']}", "kind": "stage",
                      "start_ms": s["start_ms"], "end_ms": s["end_ms"]})
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start_ms"], s["end_ms"]))
    for s in spans:
        dur = s["end_ms"] - s["start_ms"]
        s["self_ms"] = dur - covered(children.get(s["id"], []),
                                     s["start_ms"], s["end_ms"])
    return spans


def pass_totals(passes):
    """{round: {"cold_s": .., "warm_s": ..}}: the sum over queries of the
    cold pass and of the median of the query's warm passes."""
    cold, warm = defaultdict(float), defaultdict(list)
    for p in passes:
        if p["pass"] == "cold":
            cold[p["round"]] += p["wall_s"]
        else:
            warm[(p["round"], p["query"])].append(p["wall_s"])
    out = {r: {"cold_s": c, "warm_s": 0.0} for r, c in cold.items()}
    for (r, _), ws in warm.items():
        out[r]["warm_s"] += statistics.median(ws)
    return out


def _round_of(group):
    head = group.split(":", 1)[0]
    return int(head) if head.isdigit() else None


def per_layer(res, out, ready):
    with open(os.path.join(out, "trace.json")) as f:
        trace = json.load(f)
    spans = spans_with_self(trace)
    with open(os.path.join(out, "spans.jsonl"), "w") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
    cores = res["cores"]
    totals = pass_totals(res["passes"])
    for r in res["rounds"]:
        r.update(totals.get(r["round"], {"cold_s": 0.0, "warm_s": 0.0}))
    traced_rounds = [r for r in res["rounds"] if r["traced"]]
    # the untraced reference runs after the traced round, on a warmer
    # JIT, so the overhead reads high rather than low
    reference = [r for r in res["rounds"] if not r["traced"]]
    rounds = [r["round"] for r in traced_rounds]
    per = {r: defaultdict(float) for r in rounds}

    for s in trace["stages"]:
        r = _round_of(s["group"])
        if r not in per:
            continue
        m = per[r]
        run_s = s["run_ms"] / 1e3
        m["sched.stages"] += 1
        m["sched.tasks"] += s["tasks"]
        m["exec.task_s"] += run_s
        m["exec.cpu_s"] += s["cpu_ns"] / 1e9
        m["exec.gc_s"] += s["gc_ms"] / 1e3
        m["shuffle.write_mb"] += s["shuffle_write_bytes"] / MB
        m["shuffle.read_mb"] += s["shuffle_read_bytes"] / MB
        m["shuffle.fetch_wait_s"] += s["fetch_wait_ms"] / 1e3
        m["spill.mb"] += s["spill_bytes"] / MB
        if s["in_bytes"] > 0 or s["in_rows"] > 0:
            m["scan.input_mb"] += s["in_bytes"] / MB
            m["scan.input_rows"] += s["in_rows"]
            m["scan.task_s"] += run_s
        if s["out_bytes"] > 0 or s["out_rows"] > 0:
            m["sink.output_mb"] += s["out_bytes"] / MB
            m["sink.output_rows"] += s["out_rows"]
            m["sink.task_s"] += run_s
    job_iv = defaultdict(list)
    for j in trace["jobs"]:
        r = _round_of(j["group"])
        if r not in per:
            continue
        per[r]["sched.jobs"] += 1
        if j["group"].endswith(":build"):
            per[r]["ops.build_jobs"] += 1
        job_iv[r].append((j["start_ms"], j["end_ms"]))
    for e in trace["execs"]:
        r = _round_of(e["group"])
        if r not in per:
            continue
        m = per[r]
        m["driver.analysis_s"] += e["analysis_ms"] / 1e3
        m["driver.optimization_s"] += e["optimization_ms"] / 1e3
        m["driver.planning_s"] += e["planning_ms"] / 1e3
        m["driver.plan_nodes"] += e["plan_nodes"]
        m["driver.aqe_updates"] += e["aqe_updates"]
    for s in spans:
        r = _round_of(s["id"]) if s["kind"] in ("build", "action") else None
        if r not in per:
            continue
        if s["kind"] == "build":
            per[r]["ops.build_s"] += (s["end_ms"] - s["start_ms"]) / 1e3
        else:
            per[r]["driver.self_s"] += s["self_ms"] / 1e3
    for pack in PACKS:
        mine = [p for p in res["passes"] if p["pack"] == pack]
        for r, t in pass_totals(mine).items():
            if r in per:
                per[r][f"ops.{pack}.cold_s"] = t["cold_s"]
                per[r][f"ops.{pack}.warm_s"] = t["warm_s"]
    for p in res["passes"]:
        if p["traced"] and p["round"] in per:
            per[p["round"]]["driver.analysis_s"] += p["analysis_s"]
    for r in rounds:
        iv = job_iv[r]
        busy = covered(iv, min(s for s, _ in iv), max(e for _, e in iv)) / 1e3 if iv else 0
        per[r]["exec.slot_util"] = per[r]["exec.task_s"] / (cores * busy) if busy else 0.0

    def med(key):
        return statistics.median(per[r][key] for r in rounds) if rounds else 0.0

    def overhead(key):
        if not traced_rounds or not reference:
            return 0.0
        return (statistics.median(r[key] for r in traced_rounds)
                - statistics.median(r[key] for r in reference))

    out_m = {
        "sessions.build_s": (ready[0], "s"),
        "sessions.warmup_s": (ready[1], "s"),
        "sched.job_floor_s": (res["job_floor_s"], "s"),
        "trace.overhead_cold_s": (overhead("cold_s"), "s"),
        "trace.overhead_warm_s": (overhead("warm_s"), "s"),
        "trace.overhead_cpu_s": (overhead("cpu_s"), "s"),
        "trace.spans": (len(spans), "count"),
    }
    units = {"_s": "s", "_mb": "MB", "_rows": "rows", "slot_util": "1",
             "spill.mb": "MB"}
    keys = ["scan.input_mb", "scan.input_rows", "scan.task_s", "ops.build_s",
            "ops.build_jobs", "driver.analysis_s", "driver.optimization_s",
            "driver.planning_s", "driver.plan_nodes", "driver.aqe_updates",
            "driver.self_s", "sched.jobs", "sched.stages", "sched.tasks",
            "exec.task_s", "exec.cpu_s", "exec.gc_s", "exec.slot_util",
            "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s",
            "spill.mb", "sink.output_mb", "sink.output_rows", "sink.task_s"]
    keys += [f"ops.{p}.{ps}_s" for p in PACKS for ps in ("cold", "warm")]
    for k in keys:
        unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
        out_m[k] = (med(k), unit)
    cache = res["cache"]
    out_m["cache.persisted_max"] = (cache["persisted_max"], "count")
    out_m["cache.stored_mb_max"] = (cache["stored_mb_max"], "MB")
    out_m["cache.leaked_rdds"] = (cache["leaked_rdds"], "count")
    with open(os.path.join(out, "kernels.json")) as f:
        kernels = {k["fn"]: k for k in json.load(f)}
    for fn in KERNELS:
        k = kernels[fn]
        out_m[f"kernel.{fn}.rows_per_s"] = (k["rows"] / k["native_s"], "rows/s")
        out_m[f"kernel.{fn}_builtin.rows_per_s"] = (k["rows"] / k["builtin_s"], "rows/s")
    return out_m, [fn for fn in KERNELS if not kernels[fn]["equal"]]
