"""Benchmark entry point.

    python3 perfbench/run.py --workload {curate,ann} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout of the repository. The run pins its
own environment (``local[<cores>]``, driver heap, Spark local and temp
directories under ``perfbench/.work``, the checkout on the Python
workers' path). It sets up ``SETUPS`` times (session start, input
generation from the seed) and reports the median as ``setup_s``; warms
up once, untimed, on a seed-disjoint input; runs the workload's timed
preparation (the ``ann`` index build); then runs the closed loop, one
client in one process, for ``--seconds`` and at least the workload's
minimum number of units, checks every output, and prints as its last
line one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs half
the time untraced and half traced, writes the spans to
``perfbench/.work/trace-<workload>-<seed>.json`` and reports the
per-layer metrics, including the tracing overhead per unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

from proc import descendants, rss_bytes, tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3
WARM_SEED_OFFSET = 1 << 40  # warm-up inputs never share a seed with measured ones

# name -> constructor kwargs of the measured input ("size"), of the
# warm-up and self-test input ("tiny"), and the minimum units per run.
# A cold pass costs about the same at either size, and a full-size
# curate warm-up did not make the first measured pass any faster: the
# JVM keeps compiling hot code through it, so the first pass runs ~15%
# slower than the second either way.
SIZES = {
    "curate": {"size": {"n_docs": 3000, "n_deliveries": 2},
               "tiny": {"n_docs": 300, "n_deliveries": 2}, "min_units": 2},
    "ann": {"size": {"n": 6000, "batch": 40, "n_batches": 6},
            "tiny": {"n": 500, "batch": 10, "n_batches": 1}, "min_units": 6},
}

LAYER_SPANS = (
    "session.get_spark",
    "sources.load",
    "textquality.filter",
    "dedup.exact_dedup",
    "text.tokenize",
    "dedup.minhash_signatures",
    "dedup.minhash_lsh_candidates",
    "dedup.dedup_clusters",
    "text.encode_bm25",
    "selectk.select_k",
    "similarity.build_ivf_pq_index",
    "similarity.knn_ivf_pq",
    "dedup.dedup_state_ingest",
    "dedup.compact_dedup_state",
    "dedup.read_dedup_state",
)
SPAN_UNITS = {"wall_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
              "shuffle_bytes": "B", "input_bytes": "B"}


# ------------------------------------------------------------ environment
def _cores() -> int:
    return len(os.sched_getaffinity(0))


def pin_env(workdir: str) -> None:
    """Everything the run writes stays under ``workdir``; the Python
    workers import the checkout's ``raft_spark``."""
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = [ROOT, HERE, os.environ.get("PYTHONPATH", "")]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in path if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the session default heap is 48g, more than a 15 GB machine has
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf 'spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"
            " -XX:-UsePerfData'"
            " --conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })
    sys.path[:0] = [ROOT, HERE]


class RssSampler(threading.Thread):
    """Peak resident memory of this process plus all its descendants
    (the driver JVM and its Python workers), sampled every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()

    def run(self):
        me = os.getpid()
        while not self._halt.wait(0.2):
            total = sum(rss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)

    def stop(self):
        self._halt.set()
        self.join(timeout=5)


def shutdown_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for
    each to end."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    for p in procs:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except OSError:
                pass


# --------------------------------------------------------------- metrics
def tail(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten batches beyond it (the
    maximum when there are fewer than eleven), and its description."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return v[-1], f"max of {n}"
    return v[n - 11], f"p{100 * (n - 10) / n:.0f} of {n}"


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(tr, untraced_s: list[float], traced_s: list[float]) -> dict:
    out = {}
    for name in LAYER_SPANS:
        calls = tr.calls(name)
        for f, unit in SPAN_UNITS.items():
            out[f"{name}.{f}"] = (_median([c[f] for c in calls]), unit)
    lsh = [c["useful_ratio"] for c in tr.calls("dedup.minhash_lsh_candidates")
           if "useful_ratio" in c]
    out["dedup.lsh_useful_ratio"] = (_median(lsh), "ratio")
    out["dedup.cluster_edges"] = (
        _median([c["edges"] for c in tr.calls("dedup.dedup_clusters")]), "count")
    knn = tr.calls("similarity.knn_ivf_pq")
    out["similarity.shuffle_bytes_per_query"] = (
        _median([c["shuffle_bytes"] / c["queries"] for c in knn]), "B")
    st = [e for e in tr.events if e["name"] == "statestore"]
    last = st[-1] if st else {}
    out["statestore.state_files"] = (last.get("state_files", 0), "count")
    out["statestore.state_bytes"] = (last.get("state_bytes", 0), "B")
    out["statestore.bytes_per_input_byte"] = (last.get("bytes_per_input_byte", 0), "ratio")
    out["trace.overhead_s"] = (_median(traced_s) - _median(untraced_s), "s")
    return out


# ------------------------------------------------------------------- run
def build(name: str, spark, workdir: str, seed: int, kwargs: dict):
    import workloads as W

    if name == "curate":
        os.makedirs(workdir, exist_ok=True)
        return W.Curate(spark, workdir, seed, **kwargs, shards=_cores())
    return W.Ann(spark, seed, **kwargs)


def run(name: str, seed: int, seconds: float, trace: bool, tiny: bool = False) -> dict:
    """One benchmark run; returns the result object (see module doc)."""
    from raft_spark.session import get_spark

    from tracer import Tracer

    spec = SIZES[name]
    kwargs = spec["tiny"] if tiny else spec["size"]
    min_units = spec["min_units"]
    work = os.path.join(HERE, ".work", f"{name}-{seed}-{os.getpid()}")
    off, on = Tracer(False), Tracer(True)
    setup_tr = on if trace else off
    sampler = RssSampler()
    sampler.start()
    spark, setups, wl = None, [], None
    try:
        for i in range(SETUPS):
            shutil.rmtree(os.path.join(work, "main"), ignore_errors=True)
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            with setup_tr.span("session.get_spark"):
                spark = get_spark(app_name=f"perfbench-{name}", cpus=_cores())
            setup_tr.bind(spark)
            wl = build(name, spark, os.path.join(work, "main"), seed, kwargs)
            setups.append(time.perf_counter() - t0)
        # untimed warm-up on the final session: JIT and Python workers
        t_warm = time.perf_counter()
        warm = build(name, spark, os.path.join(work, "warm"), seed + WARM_SEED_OFFSET,
                     spec["tiny"])
        warm.prepare(off)
        warm.unit(off)
        del warm
        t_warm = time.perf_counter() - t_warm
        c0 = tree_cpu_s(os.getpid())
        prep_s = wl.prepare(setup_tr)
        prep_cpu_s = tree_cpu_s(os.getpid()) - c0
        wl.warm()
        t_loop = time.perf_counter()

        # --trace 1 splits the run: the first half untraced (the baseline
        # of the overhead), the second traced; each half at least
        # ceil(min_units / 2) units, so the run costs what an untraced one does
        units, untraced_s, traced_s = [], [], []
        per_half = -(-min_units // 2) if trace else min_units
        start = time.perf_counter()
        while time.perf_counter() - start < (seconds / 2 if trace else seconds) \
                or len(untraced_s) < per_half:
            u = wl.unit(off)
            untraced_s.append(u.busy_s)
            units.append(u)
        while trace and (time.perf_counter() - start < seconds or len(traced_s) < per_half):
            u = wl.unit(on)
            traced_s.append(u.busy_s)
            units.append(u)
        t_loop = time.perf_counter() - t_loop
    finally:
        sampler.stop()
        t_stop = time.perf_counter()
        if spark is not None:
            shutdown_spark(spark)
        t_stop = time.perf_counter() - t_stop

    print(f"{name}: setups {[round(s, 2) for s in setups]} s, warm-up {t_warm:.1f} s, "
          f"prepare {prep_s:.1f} s, loop {t_loop:.1f} s, shutdown {t_stop:.1f} s")
    attempted = sum(u.attempted for u in units)
    failed = sum(u.failed for u in units)
    notes = sorted({n for u in units for n in u.notes})
    for n in notes:
        print("check failed:", n, file=sys.stderr)
    # quality: the curate pair recall is the same on every pass; the ann
    # recall is averaged over the distinct query batches
    recalls = [r for u in units for r in u.recall]
    if name == "ann":
        recalls = recalls[:kwargs["n_batches"]]
    recall = statistics.fmean(recalls)
    if trace:
        os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
        on.write(os.path.join(HERE, ".work", f"trace-{name}-{seed}.json"))
        metrics = per_layer(on, untraced_s, traced_s)
    else:
        batches = [b for u in units for b in u.batches]
        tail_v, tail_desc = tail(batches)
        print(f"{name}: {len(units)} units, {len(batches)} batches, tail = {tail_desc}, "
              f"recall = {recall:.4f}, cpu/unit = {[round(u.cpu_s, 2) for u in units]}, "
              f"wall/unit = {[round(u.busy_s, 2) for u in units]}")
        metrics = {
            "setup_s": (_median(setups), "s"),
            "peak_rss_mb": (sampler.peak / 2**20, "MB"),
            "items_per_s": (sum(u.items for u in units)
                            / (prep_s + sum(u.busy_s for u in units)), "1/s"),
            "batch_p50_s": (_median(batches), "s"),
            "batch_tail_s": (tail_v, "s"),
            "cpu_ms_per_item": (1000 * (prep_cpu_s + sum(u.cpu_s for u in units))
                                / sum(u.items for u in units), "ms"),
            "recall": (recall, "ratio"),
        }
    shutil.rmtree(work, ignore_errors=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "raft_spark", "session.py")):
        print(f"no raft_spark package under {ROOT}: run from a checkout of the "
              "repository", file=sys.stderr)
        return 2
    pin_env(os.path.join(HERE, ".work"))
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
