#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001.

    python3 perfbench/selftest.py

Runs every workload of ``run.py`` untraced and traced on tiny inputs and
asserts that each run is correct and reports every metric that
``BENCHMARK.json`` names: the end-to-end metrics in the untraced result,
the per-layer metrics in the traced one, and a summary line for each
end-to-end metric, peak_rss_mb and failed_frac in both. Takes a few
minutes: it starts the same JVMs a real run does.
"""
import contextlib
import io
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import run  # noqa: E402


def main():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layers = [m["name"] for m in spec["per_layer"]]
    for w in run.WORKLOADS:
        for trace, names in ((False, e2e), (True, layers)):
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                res = run.run(w, seed=7, seconds=spec["run_seconds"],
                              trace=trace, sf=0.001)
            text = buf.getvalue()
            label = f"{w} trace={int(trace)}"
            assert res["correct"] and res["failed"] == 0, (label, text)
            assert res["attempted"] >= 1, label
            got = res["metrics"]
            assert sorted(got) == sorted(names), (label, sorted(set(got) ^ set(names)))
            for k, v in got.items():
                assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (label, k)
                unit = next(m["unit"] for m in spec["end_to_end"] + spec["per_layer"]
                            if m["name"] == k)
                assert v["unit"] == unit, (label, k, v["unit"], unit)
            for k in e2e + ["peak_rss_mb", "failed_frac"]:
                assert f"\n{k} = " in "\n" + text, (label, k)
            print(f"ok  {label}: {len(got)} metrics")
    print("selftest passed")


if __name__ == "__main__":
    main()
