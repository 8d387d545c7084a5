"""Benchmark entry point.

    python3 perfbench/run.py --workload <adhoc_tpch|mv_churn_small>
        --seed <n> --seconds <s> --trace <0|1>

Runs one workload in this process against the engine in the checkout
that holds this directory, checks its outputs, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer metrics). The line before it holds the run's context (seed,
commit, cpus, load) and details; the same record, and with tracing the
spans, go to ``.perfbench_work/results/``.
"""

from __future__ import annotations

import time

T_PROC = time.perf_counter()  # set-up time is counted from here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)


def _source_digest() -> str:
    """Hash of the engine's source files (the checkout may not be a git
    repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "materialize_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_commit() -> str | None:
    env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(ROOT))
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, env=env,
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "materialize_spark")):
        print("perfbench: no engine (materialize_spark/) beside this "
              "directory", file=sys.stderr)
        return 2
    import harness
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    cpus = os.cpu_count() or 1
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpus))
    # The engine's default heap (24g) is sized for a 128 GiB host; on a
    # 16 GiB, 4-CPU one it made the ad-hoc queries up to 1.8x slower in
    # paired runs, and took ~0.8 GB more memory, than a 4g heap, which
    # holds sf0.1 with room to spare.
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    b = harness.Bench(ROOT, args.workload, args.seed, args.seconds,
                      bool(args.trace), T_PROC)
    # Spark scratch, temp files and the warehouse stay in the checkout:
    # the benchmark writes nowhere else, so the engine's default scratch
    # directory (/dev/shm when writable) is replaced by one on the
    # checkout's file system.
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(b.work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(b.work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    try:
        WORKLOADS[args.workload](b)
    finally:
        if b.spark is not None:
            b.tear_down()
        shutil.rmtree(b.work, ignore_errors=True)
    load_after = harness._load_per_cpu()
    steal = harness.steal_frac(b.cpu_ticks_before, harness.cpu_ticks())

    e2e, detail = b.e2e()
    result = b.summary()
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "git_commit": _git_commit(), "source_digest": _source_digest(),
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "master": b.probes.get("master"),
        "shuffle_partitions": b.probes.get("shuffle_partitions"),
        "load_per_cpu_before": b.load_before,
        "load_per_cpu_after": load_after,
        # as in bench.py: the box was idle when the run began (the load
        # after a run includes the run itself)
        "idle_ok": None if b.load_before is None
        else b.load_before < 0.25,
        # CPU time the hypervisor gave to other guests during the run;
        # runs with more of it are slower for reasons outside the program
        "steal_frac": steal,
        "ops_failed_frac": b.failed / max(b.attempted, 1),
        "failures": b.failures[:20],
        "e2e": e2e, **detail,
        "state": {k: v for k, v in b.probes.items() if k != "peeks"},
    }
    if args.trace:
        record["layers"] = {k: v["value"] for k, v in
                            result["metrics"].items()}
        record["layer_map"] = harness.LAYER_MAP
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    with open(os.path.join(b.results, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    if b.tracer is not None:
        b.tracer.write(os.path.join(b.results, tag + "-spans.jsonl"))

    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
