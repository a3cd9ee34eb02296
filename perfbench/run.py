#!/usr/bin/env python3
"""graft benchmark: batch workloads driven through the engine's public
query functions, every answer checked against DuckDB.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each run builds the engine from source if
needed (``build.py``), generates its inputs from the seed (``gen.py``),
starts fresh JVMs and runs one client in a closed loop: queries one at a
time on ``local[nproc]``. First, untimed, it runs each query once on a
tiny input, so class loading and JIT do not land on whichever query the
seed puts first. Then, for each query in seed order, it clears Spark's
cache, runs a cold pass (the first execution on the real input, which
funds the query's own caches) and three warm passes (the same query
reading them; the median counts). A pass is the query-pack call plus an
action that writes every row and column of the result to parquet. The
query lists are fixed per workload, so run length never depends on the
results. A pass that runs longer than ``--seconds`` is cancelled and
counts as failed, as does a wrong answer.

With ``--trace 0`` the last line of stdout is a JSON object with the
end-to-end metrics of the fresh JVM's round; set-up is timed in two JVMs.
With ``--trace 1`` it holds the per-layer metrics of a traced run: two
rounds in one JVM with one warm pass each, the first traced (Spark
listener spans, job and stage counters) and the second its untraced
reference for the tracing overhead, then the kernel microbenchmark.
Everything a run writes stays under ``perfbench/.work``.
"""
import argparse
import json
import os
import random
import selectors
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import trace_report  # noqa: E402

WORK = os.path.join(HERE, ".work")

# Each workload: its inputs and its fixed query list. Why each was chosen
# is recorded in BENCHMARK.json.
WORKLOADS = {
    "etl_x10": {
        "data": "x10",
        "queries": [
            "q_scan_proj", "q_filter_value", "q_point_get", "q_join_bcast",
            "q_etl_bulkload",
        ],
    },
    "llm_curate": {
        "data": "sf0.1",
        "queries": [
            "x_dedup_exact", "x_dedup_near", "x_dedup_simhash", "x_winnow",
            "x_sim_brute", "x_dedup_cluster",
        ],
    },
}

SETUPS = 2          # JVM set-ups per untraced run; setup_s is their median
TRACED_ROUNDS = 2   # traced, then its untraced reference
WARM_PASSES = 3     # warm passes per query; the median counts (1 if traced)
DEADLINE_S = 150    # JVM work of one run must end this long after the build
KERNEL_REPS = 3     # timed repetitions per kernel form; the median counts


def cores():
    return len(os.sched_getaffinity(0))


def steal_s():
    """CPU time the host took from this machine's CPUs, summed over them
    (the steal column of /proc/stat), or 0 where it is not reported."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def heap():
    """Tier-1's heap rule: half of MemTotal, clamped to 2..8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class Jvm:
    """One client JVM. Times JVM start to the READY line (set-up)."""

    def __init__(self, conf, log):
        run_dir = os.path.join(WORK, "tmp", uuid.uuid4().hex[:12])
        os.makedirs(run_dir)
        self.run_dir = run_dir
        conf_path = os.path.join(run_dir, "driver.properties")
        with open(conf_path, "w") as f:
            for k, v in conf.items():
                f.write(f"{k}={v}\n".replace("\\", "\\\\"))
        opens = [a for p in JDK_OPENS for a in
                 ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
        # -UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        cmd = (["java", f"-Xmx{heap()}", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={run_dir}"] + opens +
               ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                "-Dspark.sql.legacy.parquet.nanosAsLong=true",
                f"-Dspark.local.dir={run_dir}",
                "-cp", build.classpath(), "perfbench.Driver", conf_path])
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()),
                   SPARK_LOCAL_DIRS=run_dir, SPARK_SCALA_VERSION="2.13",
                   SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"))
        env.pop("SPARK_GRAFT_PARALLELISM_FIRST", None)
        env.pop("SPARK_GRAFT_ADVISORY_PARTITION", None)
        self.log = open(log, "w")
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                                     stderr=self.log, env=env, text=True,
                                     bufsize=1, start_new_session=True)
        self.setup_s = None
        self.ready = None

    def wait_ready(self, deadline):
        sel = selectors.DefaultSelector()
        sel.register(self.proc.stdout, selectors.EVENT_READ)
        while sel.select(timeout=max(0.0, deadline - time.monotonic())):
            line = self.proc.stdout.readline()
            if not line:
                break
            if line.startswith("READY "):
                self.setup_s = time.monotonic() - self.t0
                self.ready = [float(x) for x in line.split()[1:3]]
                return
        self.kill()
        raise RuntimeError("JVM did not finish set-up; see " + self.log.name)

    def finish(self, deadline):
        try:
            self.proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(self.proc.pid, 9)
            self.proc.wait()
            raise RuntimeError("JVM ran past its deadline; killed")
        finally:
            self.log.close()
        if self.proc.returncode != 0:
            raise RuntimeError(f"JVM exited {self.proc.returncode}; see {self.log.name}")

    def kill(self):
        if self.proc.poll() is None:
            os.killpg(self.proc.pid, 9)
            self.proc.wait()
        if not self.log.closed:
            self.log.close()


def inputs(spec, seed, sf):
    """(data dir, seconds spent generating) for a workload and seed."""
    data_root = os.path.join(WORK, "data")
    os.makedirs(data_root, exist_ok=True)
    if spec["data"] == "x10":
        return gen.replica(data_root, sf, 10, seed)
    t0 = time.monotonic()
    existed = os.path.exists(os.path.join(data_root, f"sf{sf}", "_COMPLETE"))
    path = gen.base(data_root, sf)
    return path, 0.0 if existed else time.monotonic() - t0


def run(workload, seed, seconds, trace, sf=0.1):
    """One benchmark run; ``sf`` scales every input (the self-test uses
    a tiny one)."""
    spec = WORKLOADS[workload]
    queries = list(spec["queries"])
    random.Random(seed).shuffle(queries)
    marks = [("start", time.monotonic())]
    build.build()
    marks.append(("build", time.monotonic()))
    deadline = time.monotonic() + DEADLINE_S
    data, gen_s = inputs(spec, seed, sf)
    warm = gen.base(os.path.join(WORK, "data"), 0.001)
    kernel_data = gen.base(os.path.join(WORK, "data"), sf)
    marks.append(("inputs", time.monotonic()))
    logs = os.path.join(WORK, "logs")
    os.makedirs(logs, exist_ok=True)
    out = os.path.join(WORK, "out", workload)
    shutil.rmtree(out, ignore_errors=True)
    conf = {"out": out, "data": data, "warm": warm, "queries": ",".join(queries),
            "rounds": TRACED_ROUNDS if trace else 1,
            "warm_passes": 1 if trace else WARM_PASSES,
            "trace": int(trace),
            "timeout_s": float(seconds), "kernel_data": kernel_data,
            "kernel_reps": KERNEL_REPS}
    # the traced run reports no set-up time, so it skips the extra set-ups
    setup_only = {"out": os.path.join(out, "setup"), "warm": warm, "rounds": 0}
    jvms = []
    try:
        for i in range(0 if trace else SETUPS - 1):
            jvms.append(Jvm(setup_only, os.path.join(logs, f"setup{i}.log")))
            jvms[-1].wait_ready(deadline)
            jvms[-1].finish(deadline)
        marks.append(("setups", time.monotonic()))
        jvms.append(Jvm(conf, os.path.join(logs, f"{workload}.log")))
        jvms[-1].wait_ready(deadline)
        marks.append(("ready", time.monotonic()))
        steal0 = steal_s()
        jvms[-1].finish(deadline)
        marks.append(("client", time.monotonic()))
        steal = steal_s() - steal0
    finally:
        for j in jvms:
            j.kill()
            shutil.rmtree(j.run_dir, ignore_errors=True)
    with open(os.path.join(out, "results.json")) as f:
        res = json.load(f)
    wrong = oracle.check(res, data, os.path.join(WORK, "oracle"))
    shutil.rmtree(os.path.join(out, "outputs"), ignore_errors=True)
    marks.append(("check", time.monotonic()))
    print("# wall: " + ", ".join(f"{b[0]}={b[1] - a[1]:.2f}s"
                                 for a, b in zip(marks, marks[1:])))
    # a noisy neighbour shows here: steal slows every timed pass
    print(f"# host steal during the client: {steal:.2f}s over {cores()} CPUs")
    return summarize(workload, seed, res, [j.setup_s for j in jvms], gen_s,
                     wrong, trace, out, jvms[-1].ready)


def summarize(workload, seed, res, setups, gen_s, wrong, trace, out, ready):
    passes = res["passes"]
    bad = {(p["round"], p["query"], p["pass"]) for p in passes
           if p["status"] != "ok"}
    bad |= {k for _, k, _ in wrong}
    failed_q = sorted({k[1] for k in bad})
    attempted, failed = len(passes), len(bad)
    # the end-to-end figures come from the fresh JVM's first round; a
    # traced run only prints them, as it traces that round
    first = trace_report.pass_totals(passes)[1]
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "cold_total_s": (first["cold_s"], "s"),
        "warm_total_s": (first["warm_s"], "s"),
        "cpu_s": (res["rounds"][0]["cpu_s"], "s"),
    }
    rss = (res["peak_rss_mb"], "MB")
    bad_kernels = []
    if trace:
        layers, bad_kernels = trace_report.per_layer(res, out, ready)
        attempted += len(trace_report.KERNELS)
        failed += len(bad_kernels)
    failed_frac = failed / attempted
    for p in passes:
        if p["status"] != "ok":
            print(f"FAILED {p['query']} round {p['round']} {p['pass']}: {p['status']}")
    for q, (r, _, ps), why in sorted(wrong, key=lambda w: w[1]):
        print(f"WRONG  {q} round {r} {ps}: {why}")
    for fn in bad_kernels:
        print(f"WRONG  kernel {fn}: native and built-in outputs differ")
    print(f"# workload={workload} seed={seed} cores={res['cores']} "
          f"queries={len({p['query'] for p in passes})} rounds={len(res['rounds'])} "
          f"prelude_s={res['prelude_s']:.3f} (untimed) "
          f"gen_s={gen_s:.3f} (input generation, not in setup_s)")
    for k, (v, u) in list(e2e.items()) + [("peak_rss_mb", rss)]:
        print(f"{k} = {v:.4f} {u}")
    print(f"failed_frac = {failed_frac:.4f} 1 ({failed}/{attempted} checked; "
          f"failing: {', '.join(failed_q) or 'none'})")
    if trace:
        layers["peak_rss_mb"] = rss
        layers["failed_frac"] = (failed_frac, "1")
        for k, (v, u) in layers.items():
            print(f"{k} = {v:.6g} {u}")
        metrics = layers
    else:
        metrics = e2e
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    result = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
