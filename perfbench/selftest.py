#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py

Checks that (1) the query sample is a function of the seed and differs
between seeds, (2) two seeds generate different FFI exports, and (3) an
injected throwing operation is counted as failed, in `failed` and
`correct`, on both workloads, and is kept out of the latency samples.
Takes a few minutes: it runs the benchmark three times.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import run  # noqa: E402


def bench(*args):
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), *args,
                          "--seconds", "1", "--trace", "0"],
                         capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def main() -> int:
    a, b = run.query_sample(1), run.query_sample(2)
    assert a == run.query_sample(1), "sample is not a function of the seed"
    assert a != b, "seeds 1 and 2 draw the same query sample"
    assert len(set(a)) == len(a) == sum(run.CORE_BANDS) + run.ROTATING
    print("ok: query samples differ between seeds and repeat for a seed")

    hashes = {}
    for seed in (1, 2):
        lines, res = bench("--workload", "ffi_backlog", "--seed", str(seed),
                           *(["--inject-failure"] if seed == 1 else []))
        with open(os.path.join(run.WORK, f"result_ffi_backlog_{seed}_0.json")) as f:
            hashes[seed] = json.load(f)["extra"]["export_sha256"]
        if seed == 1:
            assert res["failed"] == 1 and not res["correct"], res
            assert res["attempted"] == 2, res
            assert any("failed injected_failure" in l for l in lines), lines
        else:
            assert res["failed"] == 0 and res["correct"], res
    assert hashes[1] != hashes[2], "seeds 1 and 2 generate the same export"
    print("ok: ffi_backlog exports differ between seeds; injected failure counted")

    lines, res = bench("--workload", "query_mix", "--seed", "3", "--inject-failure")
    assert res["failed"] >= 1 and not res["correct"], res
    assert any("failed injected_failure" in l for l in lines), lines
    print(f"ok: query_mix injected failure counted ({res['failed']} of {res['attempted']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
