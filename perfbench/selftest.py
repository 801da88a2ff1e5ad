"""Tiny-size self-test of the benchmark: every workload, both modes,
and the output checks themselves.

    python3 perfbench/selftest.py

Runs each workload at its tiny size, once untraced and once traced,
and requires a correct result carrying exactly the metrics that
``BENCHMARK.json`` names. Then it corrupts each workload's ground truth
and requires the checks to report the failure. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import sys

import run as R


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")


def check_runs(spec: dict) -> None:
    for name in R.SIZES:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = R.run(name, seed=7, seconds=0, trace=bool(trace), tiny=True)
            print(name, trace, json.dumps(res)[:200], flush=True)
            _expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                    f"{name} trace={trace} did not pass its checks")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            _expect(got == want, f"{name} trace={trace} metrics differ: {set(got) ^ set(want)}")
            if not trace:
                _expect(all(v["value"] > 0 for v in res["metrics"].values()),
                        f"{name}: an end-to-end metric is zero")


def check_checks() -> None:
    """Each workload's checks must fail on corrupted ground truth."""
    import shutil

    import numpy as np

    from raft_spark.session import get_spark
    from tracer import Tracer

    off = Tracer(False)
    spark = get_spark(app_name="perfbench-selftest", cpus=R._cores())
    work = os.path.join(R.HERE, ".work", f"selftest-{os.getpid()}")
    try:
        cur = R.build("curate", spark, os.path.join(work, "c"), 3, R.SIZES["curate"]["tiny"])
        groups, pairs = cur.expect_groups, cur.corpus.near_pairs
        cur.expect_groups = set(list(groups)[1:])
        cur.corpus.near_pairs = [(a, b + 1) for a, b in pairs]
        u = cur.unit(off)
        _expect(u.failed == 1 and u.notes[0].count(";") == 1,
                f"curate checks missed corruption: {u.notes}")
        cur.expect_groups, cur.corpus.near_pairs = groups, pairs
        cur.reference = cur.reference[1:]
        u = cur.unit(off)
        _expect(u.failed == 1 and "one-delivery" in u.notes[0],
                f"curate state check missed a wrong reference: {u.notes}")

        ann = R.build("ann", spark, os.path.join(work, "a"), 3, R.SIZES["ann"]["tiny"])
        ann.prepare(off)
        ann.vec.truth = np.roll(ann.vec.truth, 1, axis=0)
        _expect(ann.unit(off).failed == 1, "ann recall check missed shuffled truth")
    finally:
        R.shutdown_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main() -> int:
    R.SETUPS = 1
    R.pin_env(os.path.join(R.HERE, ".work"))
    with open(os.path.join(R.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_checks()
    check_runs(spec)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
