#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at tiny size, timed and
traced, must print every metric of BENCHMARK.json with its unit and pass
its correctness gates; a deliberately wrong expected fingerprint must show
up as a failed operation.

    python3 perfbench/tests/selftest.py

Run it from the root of a checkout; it takes a few minutes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")
SEED = 7


def run(workload, trace, *extra):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
        + list(extra),
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600)
    assert p.returncode == 0, "%s trace=%d exited %d:\n%s" % (
        workload, trace, p.returncode, p.stdout[-2000:])
    lines = p.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def check_metrics(res, declared, label):
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, label
    got = res["metrics"]
    for m in declared:
        assert m["name"] in got, "%s: %s missing" % (label, m["name"])
        assert got[m["name"]]["unit"] == m["unit"], \
            "%s: %s unit %s != %s" % (label, m["name"],
                                      got[m["name"]]["unit"], m["unit"])
        assert isinstance(got[m["name"]]["value"], float), label
    assert set(got) == {m["name"] for m in declared}, label


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    for w in names:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            lines, res = run(w, trace)
            label = "%s trace=%d" % (w, trace)
            check_metrics(res, spec[key], label)
            assert res["correct"] and res["failed"] == 0, \
                "%s failed: %s" % (label, "\n".join(lines[:-1]))
            assert res["attempted"] >= 1, label
            if trace == 0:
                # the human summary names the workload's headline metrics
                assert "failed_frac=0 ratio" in lines[0], lines[0]
            print("ok  %s  attempted=%d" % (label, res["attempted"]))

    # a wrong checked-in fingerprint must fail that operation
    wrong = os.path.join(ROOT, ".bench_build", "selftest-fingerprints.tsv")
    os.makedirs(os.path.dirname(wrong), exist_ok=True)
    with open(wrong, "w") as f:
        f.write("registry tiny %d text_stats 0:0:0\n" % SEED)
    _, res = run("registry", 0, "--fingerprints", wrong)
    assert not res["correct"] and res["failed"] > 0, res
    print("ok  wrong fingerprint -> failed=%d of %d" % (
        res["failed"], res["attempted"]))
    os.remove(wrong)
    print("selftest passed")


if __name__ == "__main__":
    main()
