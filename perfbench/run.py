"""Steady-state benchmark of the dedupe_spark ER workloads.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload er_pages --seed 42 --seconds 8 --trace 0

One run: build or verify the seeded input (before the set-up clock),
start a local[nproc] SparkSession, read the input, run one cold and the
workload's warm-up iterations (set-up), then time a fixed number of warm
iterations of the workload's public call (for at least ``--seconds``)
and report the fastest. Quality is checked on the run's own output
against planted truth, outside the timed window.

``--trace 0`` prints the end-to-end metrics (rows_per_s, f1, setup_s,
peak_rss_mb). ``--trace 1`` runs one timed iteration, then the traced
calls, and prints the per-layer metrics instead. The last stdout line
is one JSON object: {"correct", "attempted", "failed", "metrics"}. A
record of the run (host probes, per-iteration walls, phase times,
counts, spans) is written under ``.perfbench/runs/``.
"""

import time

T_PROCESS = time.time()  # set-up is measured from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import host  # noqa: E402
import inputs  # noqa: E402

def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def check_counts(root: str, workload: str, seed: int, counts: dict) -> list[str]:
    """Every count must repeat exactly across runs of one (workload,
    seed, size) and one version of the code: compare with, then extend,
    the registry kept for that key."""
    key = os.path.basename(inputs.cache_dir(root, workload, seed))
    path = os.path.join(root, ".perfbench", "counts", f"{key}-{host.code_hash(root)}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    seen = {}
    if os.path.exists(path):
        with open(path) as f:
            seen = json.load(f)
    diffs = [f"{k}: {seen[k]} != {v}" for k, v in counts.items() if k in seen and seen[k] != v]
    if not diffs:
        seen.update(counts)
        with open(path, "w") as f:
            json.dump(seen, f, indent=1, sort_keys=True)
    return diffs


def main() -> int:
    ap = argparse.ArgumentParser(description="dedupe_spark steady-state benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(inputs.BUILDERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dedupe_spark", "pipeline.py")):
        log(f"no dedupe_spark package in {root}; run from the root of a checkout")
        return 2
    sys.path.insert(0, root)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = host.prepare(root, run_id)

    # Excluded from set-up: input build/verification and host probes.
    t = time.time()
    input_dir, table_rows = inputs.ensure(root, args.workload, args.seed)
    host.clear_peak_rss()
    probe_pre = host.probe()
    excluded = time.time() - t
    phases = {"inputs_ready": time.time() - T_PROCESS}

    from tracing import Tracer, event_log_conf
    from workloads import PER_LAYER, WORKLOADS

    event_dir = os.path.join(work, "events")
    spark = host.start_spark(
        f"perfbench-{args.workload}", event_log_conf(event_dir) if args.trace else None
    )
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "size": inputs.SIZES[args.workload], "probe_pre": probe_pre}
    attempted = failed = 0
    warm: list[dict] = []
    try:
        wl = WORKLOADS[args.workload](spark, input_dir, table_rows, work)
        wl.load()
        jvm = host.jvm_pid(spark)

        def one() -> dict | None:
            nonlocal attempted, failed
            wl.reset()
            attempted += 1
            c0, s0 = host.cpu_s(jvm), host.steal_s()
            t0 = time.perf_counter()
            try:
                rows = wl.iterate()
            except Exception:
                failed += 1
                traceback.print_exc()
                return None
            wall = time.perf_counter() - t0
            return {"rows": rows, "wall_s": wall, "jvm_cpu_s": host.cpu_s(jvm) - c0,
                    "steal_share": (host.steal_s() - s0) / (host.nproc() * wall)}

        phases["spark_up"] = time.time() - T_PROCESS
        record["setup_iterations"] = [one() for _ in range(1 + wl.warmup_iterations)]
        t_warm = time.time()
        setup_s = t_warm - T_PROCESS - excluded
        phases["setup_done"] = t_warm - T_PROCESS
        # A fixed count, so every run samples the same stretch of the
        # warm-up curve; --seconds is a floor. The sample is the fastest
        # measured iteration: on a shared host a slower one ran while
        # other guests took CPU time. A traced run needs only the
        # untraced wall to compare its spans with.
        n_warm = 1 if args.trace else wl.warm_iterations
        tried = 0
        while tried < n_warm or (not args.trace and time.time() - t_warm < args.seconds):
            tried += 1
            r = one()
            if r is not None:
                warm.append(r)
            if tried == n_warm:
                # before any iteration the floor adds and the checks:
                # the driver's RSS grows with every iteration
                peak_rss_mb = host.vm_hwm_mb(jvm) + host.vm_hwm_mb(os.getpid())
        record["warm"] = warm
        walls = [r["wall_s"] for r in warm]
        best = min(walls) if walls else float("nan")

        phases["warm_done"] = time.time() - T_PROCESS
        try:
            quality, counts = wl.check() if walls else ({"f1": 0.0}, {})
        except Exception as e:  # an evaluator that refuses the output
            traceback.print_exc()
            quality, counts = {"f1": 0.0, "error": repr(e)}, {}
        phases["checked"] = time.time() - T_PROCESS
        diffs = check_counts(root, args.workload, args.seed, counts)
        # both workloads recover their planted truth exactly
        correct = bool(walls) and quality["f1"] == 1.0 and not diffs
        record.update(quality=quality, counts=counts, count_diffs=diffs)
        if not correct:
            log(f"INCORRECT: quality={quality} count diffs={diffs}")

        tracer = None
        if args.trace:
            tracer = Tracer(spark, work)
            problems = wl.trace(tracer)
            if problems:
                correct = False
                log(f"INCORRECT: traced run: {problems}")
        phases["traced"] = time.time() - T_PROCESS
    finally:
        host.stop_spark(spark)
    phases["stopped"] = time.time() - T_PROCESS

    if tracer is not None:
        tracer.attribute(event_dir)
        layer = wl.layers(tracer, best)
        trace_counts = {k: v for k, v in layer.items()
                        if dict(PER_LAYER).get(k) in ("count", "bool")}
        diffs = check_counts(root, args.workload, args.seed,
                             {f"trace.{k}": v for k, v in trace_counts.items()})
        if diffs:
            correct = False
            log(f"INCORRECT: traced count diffs={diffs}")
        metrics = {name: {"value": float(layer.get(name, 0.0)), "unit": unit}
                   for name, unit in PER_LAYER}
        record["spans"] = tracer.spans
    else:
        metrics = {
            "rows_per_s": {
                "value": warm[0]["rows"] / best if walls else 0.0,
                "unit": "1/s",
            },
            "f1": {"value": float(quality["f1"]), "unit": "ratio"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        }
    record["probe_post"] = host.probe()
    record["phases"] = phases
    record["metrics"] = metrics
    runs = os.path.join(root, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)
    log(f"{args.workload} seed={args.seed} walls={['%.2f' % w for w in walls]} "
        f"quality={quality} load {probe_pre['load1']:.2f}->{record['probe_post']['load1']:.2f} "
        f"sha256 {probe_pre['sha256_mbps']:.0f}->{record['probe_post']['sha256_mbps']:.0f} MB/s "
        f"phases {({k: round(v, 1) for k, v in phases.items()})}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
