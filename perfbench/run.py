#!/usr/bin/env python3
"""The repo's benchmark: three workloads through the engine's public
entry points, run from the root of a checkout.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 30 --trace 0

A run builds the engine if needed (``build.py``), generates the
workload's inputs from ``--seed``, starts the JVM runner
(``scala/perfbench/Runner.scala``), checks every output, and prints one
JSON line last: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. See README.md.
"""
import argparse
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402

CORES = 4
HEAP = "3g"
DEADLINE_S = 170  # a run must end within 180 s of its start (after the build)

# pass_s: nominal seconds of one timed pass on a 4-core box. A run is
# round(seconds / pass_s) sessions, at least one; a session is one JVM
# start: set-up, then one timed pass.
WORKLOADS = {
    "ingest": {"pass_s": 25.0},
    "curate_batch": {"pass_s": 35.0, "docs": 1500},
    "curate_stream": {"pass_s": 25.0, "docs": 1000, "files": 2},
}
OTHER_SHARE_MAX = 0.05  # attribution self-check of a traced run


def inputs(workload, seed, in_dir):
    """Generate the workload's inputs; return (description, expected)."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "ingest":
        objects = os.path.join(in_dir, "objects")
        order, expected = gen.ingest_objects(rng, objects)
        warm, _ = gen.ingest_objects(rng, objects, gen.WARMUP_MIX, prefix="warm")
        for name, names in (("objects.txt", order), ("warmup.txt", warm)):
            with open(os.path.join(in_dir, name), "w") as f:
                f.write("\n".join(names) + "\n")
        return gen.ingest_shares(expected), expected
    corpus = os.path.join(in_dir, "corpus")
    os.makedirs(corpus)
    w = WORKLOADS[workload]
    path = os.path.join(corpus, "documents.parquet")
    desc = gen.corpus(rng, w["docs"], path)
    if workload == "curate_stream":
        desc.update(gen.arrivals(path, os.path.join(in_dir, "arrivals"), w["files"]))
    return desc, None


def session(cp, workload, in_dir, out_dir, trace, deadline):
    """One JVM start; returns its result with the measured set-up time."""
    os.makedirs(os.path.join(out_dir, "tmp"))
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *build.ADD_OPENS,
           f"-Djava.io.tmpdir={out_dir}/tmp", "-cp", cp, "perfbench.Runner",
           "--workload", workload, "--in", in_dir, "--out", out_dir,
           "--trace", str(trace), "--cores", str(CORES)]
    log_path = os.path.join(out_dir, "jvm.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:  # never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc is None:
        raise RuntimeError("the runner did not finish within the run's deadline")
    if rc != 0:
        with open(log_path) as f:
            raise RuntimeError(f"the runner exited with {rc}:\n{f.read()[-3000:]}")
    with open(os.path.join(out_dir, "result.json")) as f:
        res = json.load(f)
    res["setup_s"] = res["first_item_epoch_s"] - t0
    res["out_dir"] = out_dir
    return res


def checks(workload, res, expected, in_dir, tmp):
    """Check every item's output; return (attempted, failure messages)."""
    if workload == "ingest":
        items = res["outputs"]["items"]
        return len(items), [f for item in items
                            for f in check.ingest_item(item, expected[item["object"]])]
    corpus = os.path.join(in_dir, "corpus", "documents.parquet")
    if workload == "curate_batch":
        [want] = check.oracle([res["oracle_sql"]], corpus, tmp)
        return 1, check.batch_report(res["outputs"]["report"], want)
    # the whole-doc stage's state keeps one signature row per surviving
    # document (Dedup.minhashDedupIncremental)
    survivors = pq.read_table(os.path.join(res["state_dir"], "whole"),
                              columns=["id"]).column("id").to_pylist()
    arrivals = os.path.join(in_dir, "arrivals")
    batch_of = {i: k for k, f in enumerate(sorted(os.listdir(arrivals)))
                for i in pq.read_table(os.path.join(arrivals, f)).column("doc_id").to_pylist()}
    return 1, check.stream_report(
        res["outputs"], *check.stream_oracles(res["oracle_sql"], corpus, tmp, survivors),
        batch_of, survivors, WORKLOADS[workload]["files"])


def end_to_end(runs):
    med = statistics.median
    items = sorted(x for r in runs for x in r["items"])
    return {
        "setup_s": (med(r["setup_s"] for r in runs), "s"),
        "run_s": (med(r["run_s"] for r in runs), "s"),
        "item_p50_s": (med(items), "s"),
        # p90 by nearest rank: a run's 12, 2 or 1 items support no
        # percentile with ten items beyond it
        "item_tail_s": (items[math.ceil(0.9 * len(items)) - 1], "s"),
        "cpu_s": (med(r["cpu_s"] for r in runs), "s"),
    }


UNITS = {"core_busy": "ratio", "overhead": "ratio", "other_job_share": "ratio",
         "other_job_s_share": "ratio"}


def per_layer(runs):
    """Each layer counter of the traced sessions (their median), plus the
    on-disk size of the sink output and the stream state, and peak memory.
    """
    for r in runs:
        r["layers"]["jvm.mem_peak_mb"] = r["mem_peak_mb"]
        for layer, key in (("io.sink", "sink_dir"), ("streaming.state", "state_dir")):
            size, files = check.tree_size(r[key]) if r[key] else (0, 0)
            r["layers"].update({f"{layer}_mb": size / 2 ** 20, f"{layer}_files": files})
    layers = {k: statistics.median(r["layers"][k] for r in runs) for k in runs[0]["layers"]}
    for key in ("queries.build_s", "queries.exec_s", "grid.detect_s", "io.xlsx_read_s"):
        layers.setdefault(key, 0.0)
    metrics = {}
    for k, v in layers.items():
        leaf = k.split(".", 1)[1]
        metrics[k] = (v, UNITS.get(leaf) or ("s" if leaf.endswith("_s") else
                                             "MB" if leaf.endswith("mb") else "count"))
    return metrics


def attribution(layers):
    """The attribution self-check: no more than 5% of the traced jobs or
    job-seconds may fall outside the repo's modules.
    """
    return [f"attribution: {k} = {layers[k]:.3f} > {OTHER_SHARE_MAX}"
            for k in ("trace.other_job_share", "trace.other_job_s_share")
            if layers[k] > OTHER_SHARE_MAX]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    try:
        cp = build.ensure(root)
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    deadline = time.time() + DEADLINE_S
    work = os.path.join(root, ".bench_build", "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    try:
        desc, expected = inputs(a.workload, a.seed, in_dir)
        sessions = max(1, round(a.seconds / WORKLOADS[a.workload]["pass_s"]))
        runs = [session(cp, a.workload, in_dir, os.path.join(work, f"s{k}"), a.trace,
                        deadline) for k in range(sessions)]
        attempted, failures = 0, []
        for res in runs:
            n, f = checks(a.workload, res, expected, in_dir, work)
            attempted += n
            failures += f
        if a.trace:
            for res in runs:
                attempted += 1
                failures += attribution(res["layers"])[:1]
            metrics = per_layer(runs)
        else:
            metrics = end_to_end(runs)
        for f in failures:
            print("FAIL", f, file=sys.stderr)
        print("inputs", json.dumps(desc, sort_keys=True), file=sys.stderr)
        print(json.dumps({
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
