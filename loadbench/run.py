"""Entry point of the benchmark. Run from the repository root:

    python3 loadbench/run.py --workload hub_sync --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark (cached), makes a fresh scratch root
under `.bench_runs/`, runs the workload in a fresh JVM, prints a report
with every metric, its unit and sample counts, and prints as the last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. Every run does a fixed amount of work (see
`Sizes` in scala/LoadBench.scala); --seconds is recorded, not used to stop.
`--record-digests` (star_analytics only) rewrites the stored reference
digests from the run instead of checking against them.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("hub_sync", "star_analytics", "corpus_index")
# the benchmark's copy of the engine's sf0.01 test tables
FIXTURE = os.path.join(HERE, "fixture")
DEADLINE_S = 170.0


def host_facts():
    with open("/proc/loadavg") as fh:
        load = fh.read().split()[:3]
    return os.cpu_count(), " ".join(load)


def java_cmd(classes, run_root, args):
    return (["java"] + build.jvm_flags(os.path.join(run_root, "tmp"))
            + [f"-Dderby.system.home={run_root}/derby",
               "-cp", build.classpath(classes), "loadbench.LoadBench"] + args)


def main():
    started = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    try:
        classes = build.build(root)
    except FileNotFoundError as e:
        sys.stderr.write(f"loadbench: {e}; run from the repository root\n")
        return 2
    t0 = time.time()  # set-up starts once the (cached) build is done

    nproc, load_before = host_facts()
    run_root = os.path.join(root, ".bench_runs",
                            f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    for d in ("tmp", "spark-local", "inputs", "state"):
        os.makedirs(os.path.join(run_root, d))
    record_file = os.path.join(run_root, "record.json")
    args = ["run", "--workload", a.workload, "--seed", str(a.seed),
            "--trace", str(a.trace), "--root", run_root, "--out", record_file,
            "--cores", str(nproc), "--fixture", FIXTURE,
            "--digests", os.path.join(HERE, "star_digests.json")]
    if a.record_digests:
        args += ["--record", "1"]
    env = dict(os.environ, SPARK_GRAFT_SPOOL="off",
               SPARK_LOCAL_DIRS=os.path.join(run_root, "spark-local"))
    log = os.path.join(run_root, "jvm.log")
    try:
        with open(log, "w") as fh:
            p = subprocess.Popen(java_cmd(classes, run_root, args), cwd=run_root,
                                 env=env, stdout=fh, stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=max(10.0, DEADLINE_S - (time.time() - started)))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        if rc != 0 or not os.path.isfile(record_file):
            with open(log) as fh:
                sys.stderr.write(fh.read()[-6000:])
            sys.stderr.write(f"loadbench: JVM run failed ({rc})\n")
            return 1
        with open(record_file) as fh:
            rec = json.load(fh)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    setup_s = rec["timed_start"] / 1000.0 - t0
    e2e, report = stats.end_to_end(rec, setup_s)
    _, load_after = host_facts()
    print(f"loadbench: workload={a.workload} seed={a.seed} trace={a.trace} "
          f"seconds={a.seconds:g} nproc={nproc} loadavg_before={load_before!r} "
          f"loadavg_after={load_after!r}")
    print(f"loadbench: ops={report['ops']} failed={report['failed']} "
          f"failed_ratio={report['failed_ratio']:.4f} cycles={report['cycles']} "
          f"timed_s={report['timed_s']:.3f}")
    units = stats.metric_units("end_to_end")
    for k, v in e2e.items():
        print(f"loadbench: {k} = {v:.6g} {units[k]}")
    for kind in ("op", "read", "write"):
        if kind in report:
            r = report[kind]
            tl = r["tail"]
            tail_txt = (f"{tl[0]:.6g} s (p{tl[1]:.1f}, n = {tl[2]})" if tl
                        else "n/a (fewer than 11 samples)")
            print(f"loadbench: {kind}_p50_s = {r['p50_s']:.6g} s (n = {r['n']}), "
                  f"{kind}_tail_s = {tail_txt}")
    print(f"loadbench: peak_heap_mb = {report['peak_heap_mb']:.6g} MB")
    if "space_amp" in report:
        print(f"loadbench: space_amp = {report['space_amp']:.6g} ratio")
    for m in rec["marks"]:
        print(f"loadbench: mark {m['name']} at {m['at'] / 1000.0 - t0:.3f} s")
    for k, v in sorted(rec["facts"].items()):
        print(f"loadbench: fact {k} = {v:.6g}")
    for o in rec["ops"]:
        if not o["ok"]:
            print(f"loadbench: failed op {o['id']} {o['name']}: {o['err']}")

    if a.trace:
        units = stats.metric_units("per_layer")
        values = stats.per_layer(rec)
        for k in units:
            print(f"loadbench: layer {k} = {values[k]:.6g} {units[k]}")
    else:
        values = e2e
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": report["failed"] == 0, "attempted": report["ops"],
                      "failed": report["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
