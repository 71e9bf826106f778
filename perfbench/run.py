"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload verify_e1 --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. One client (this process) issues one
pass at a time (a closed loop) on ``local[nproc]``, in a Spark session and
JVM of its own. ``--trace 0`` prints the end-to-end metrics, ``--trace 1``
the per-layer metrics of a separate traced run. The full record, with every
sample, goes to ``.bench_work/records/``. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: set-ups per run; setup_s is their median
SETUPS = 3
DRIVER_MEM = "3g"

END_TO_END = {
    "run_s": "s",
    "pages_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "bytes_written_per_page": "B",
    "setup_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric of every workload, with its unit."""
    from perfbench.workloads import MEASURES, WORKLOADS

    units = {"self_s": "s", "cpu_s": "s", "gc_s": "s", "shuffle_write_mb": "MB",
             "spill_mb": "MB", "report_rows": "count", "written_mb": "MB",
             "hit_ratio": "ratio", "jobs": "count"}
    out = {}
    for w in WORKLOADS.values():
        for layer, extra in w.layers.items():
            for m in MEASURES + extra:
                out[f"{layer}.{m}"] = units[m]
    out["trace.overhead_s"] = "s"
    return out


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("verify_e1", "spatial_graph"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def _session(work: str, cores: int):
    """A fresh session whose scratch space stays inside ``work``."""
    from fileverification_spark.session import get_spark

    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # The benchmark writes only inside its checkout. So Spark's shuffle and
    # spill files go to the checkout's disk, not to /dev/shm where the
    # session would put them (see the README). The JVMs inherit these:
    # Spark prefers SPARK_LOCAL_DIRS to spark.local.dir, the default 16g
    # heap is larger than small hosts' memory, and without -XX:-UsePerfData
    # each JVM writes /tmp/hsperfdata_*.
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(cores),
    })
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed heap size keeps heap resizing out of peak_rss_mb
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _pass(wl, tag: str, jvm: int, cores: set[int], clock) -> dict:
    """One untraced pass with its end-to-end readings, after a reading of
    the host clock."""
    from perfbench import probe

    clock.read()
    tree = probe.process_tree(jvm)
    c0, w0, s0 = probe.cpu_s(tree), probe.write_bytes(tree), probe.cpu_stamp(cores)
    d0 = probe.cpu_s([os.getpid()])
    q0 = probe.sched_stamp(tree + [os.getpid()])
    sample = {"tag": tag, "ok": False}
    with probe.PeakRss(jvm) as rss:
        t0 = time.perf_counter()
        try:
            out = wl.run(tag)
        except Exception:
            sample["error"] = traceback.format_exc(limit=5)
            return sample
        finally:
            sample["wall_s"] = time.perf_counter() - t0
    tree = probe.process_tree(jvm)
    sample["wait_s"] = probe.run_wait_s(q0, probe.sched_stamp(tree + [os.getpid()]))
    sample["cpu_s"] = probe.cpu_s(tree) - c0
    sample["write_bytes"] = probe.write_bytes(tree) - w0
    sample["peak_rss_mb"] = rss.peak_mb
    # The driver (this process: py4j calls, collecting results, the RSS
    # sampler) is the benchmark's own work, not another tenant's.
    sample["driver_cpu_s"] = probe.cpu_s([os.getpid()]) - d0
    own = sample["cpu_s"] + sample["driver_cpu_s"]
    sample.update(probe.contention(s0, probe.cpu_stamp(cores), own))
    # Other tenants' load on a shared host moves wall time by tens of
    # percent from one minute to the next; take out what they cost this pass.
    sample["adj_wall_s"] = probe.uncontended_s(
        sample["wall_s"], len(cores), own, sample["wait_s"],
        sample["steal"], sample["sibling_busy"],
    )
    _check(wl, out, sample)
    sample["sink_bytes"] = wl.finish(tag)
    return sample


def _traced_pass(wl, tracer, tag: str) -> dict:
    """One traced pass; its wall time includes every prefix pipeline, extra
    count and status-store read that tracing adds."""
    sample = {"tag": tag, "ok": False, "traced": True}
    t0 = time.perf_counter()
    try:
        out, sample["layers"] = wl.traced(tracer, tag)
    except Exception:
        sample["error"] = traceback.format_exc(limit=5)
        return sample
    finally:
        sample["wall_s"] = time.perf_counter() - t0
    _check(wl, out, sample)
    wl.finish(tag)
    return sample


def _check(wl, out, sample: dict) -> None:
    from perfbench.workloads import CheckFailed

    try:
        wl.check(out)
        sample["ok"] = True
    except CheckFailed as e:
        sample["error"] = str(e)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _prepare(wl, work: str, rec: dict) -> None:
    """The set-ups, then the expected outputs (DuckDB only, no Spark)."""
    from perfbench import oracle

    setups = []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        wl.set_up(os.path.join(work, f"inputs{i}"))
        setups.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(os.path.join(work, f"inputs{i - 1}"))
    rec["materialise_samples_s"] = setups
    t0 = time.perf_counter()
    orc = oracle.Oracle(work, wl.cores)
    try:
        wl.expect(orc)
    finally:
        orc.close()
    rec["oracle_s"] = time.perf_counter() - t0


def measure(args, work: str) -> dict:
    from perfbench import probe
    from perfbench.workloads import WORKLOADS, Tracer

    affinity = sorted(os.sched_getaffinity(0))
    cores = len(affinity)
    wl = WORKLOADS[args.workload](args.seed, cores)
    rec = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores, "affinity": affinity,
        "n_pages": wl.n_pages,
    }
    # The set-ups and the oracle need no Spark, so they run while the JVM
    # starts. Each set-up materialises the inputs into a fresh directory;
    # the last one is kept.
    with ThreadPoolExecutor(1) as pool:
        prepared = pool.submit(_prepare, wl, work, rec)
        t0 = time.perf_counter()
        spark = _session(work, cores)
        rec["session_start_s"] = time.perf_counter() - t0
        gateway = spark.sparkContext._gateway
        try:
            prepared.result()
        except BaseException:
            _stop(spark, gateway)
            raise
    wl.spark = spark
    jvm = gateway.proc.pid
    rec["facts"] = wl.facts
    rec["spark_driver_mem"] = os.environ["SPARK_DRIVER_MEM"]
    rec["spark_conf"] = dict(spark.sparkContext.getConf().getAll())
    clock = probe.HostClock(cores)
    try:
        # Checked warm-up passes compile the generated code and start the
        # Python workers. setup_s is the median materialisation plus the
        # warm-ups, so work a change moves out of the passes into a first
        # use shows.
        warm = rec["warmups"] = [
            _pass(wl, f"warm{k}", jvm, set(affinity), clock)
            for k in range(wl.warmups)
        ]
        rec["setup_s"] = statistics.median(rec["materialise_samples_s"]) + sum(
            s.get("adj_wall_s", s["wall_s"]) for s in warm
        )

        tracer = Tracer(spark)
        samples = []
        deadline = time.monotonic() + args.seconds
        i = 0
        # A traced run alternates untraced and traced passes, starting and
        # ending untraced, at least three. The median untraced and the
        # median traced pass then sit at the same point of the run, so the
        # downward drift of a young JVM cancels out of the tracing overhead.
        needed = max(wl.min_passes, 3) if args.trace else wl.min_passes
        while (i < needed or time.monotonic() < deadline
               or (args.trace and i % 2 == 0)):
            if args.trace and i % 2:
                samples.append(_traced_pass(wl, tracer, f"t{i}"))
            else:
                samples.append(_pass(wl, f"r{i}", jvm, set(affinity), clock))
            i += 1
        clock.read()
        rec["samples"] = samples
        rec["spans"] = tracer.spans
        rec["host_clock_s"] = clock.readings
    finally:
        clock.close()
        _stop(spark, gateway)
    return rec


def _stop(spark, gateway) -> None:
    """Stop the session and wait for its JVM to exit."""
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def summarise(rec: dict) -> tuple[dict, dict]:
    """(printed metrics, summary) from a record."""
    from perfbench.probe import HostClock

    samples = rec["samples"]
    plain = [s for s in samples if not s.get("traced") and s["ok"]]
    traced = [s for s in samples if s.get("traced") and s["ok"]]
    # warm-up passes are checked and counted, but they are not samples
    attempted = len(samples) + len(rec["warmups"])
    failed = sum(not s["ok"] for s in samples + rec["warmups"])
    # How fast the host ran CPU-bound work during this run, against
    # HostClock.NOMINAL_S. The time metrics are scaled by it, so that a slow
    # phase of a shared host, which stretches CPU time and wall time alike,
    # does not read as a slower program.
    host_scale = HostClock.NOMINAL_S / _median(rec["host_clock_s"])
    run_s = _median([s["adj_wall_s"] for s in plain]) * host_scale
    summary = {
        "workload": rec["workload"], "seed": rec["seed"], "nproc": rec["nproc"],
        "passes": len(plain), "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted,
        "run_s": run_s,
        "wall_s": _median([s["wall_s"] for s in plain]),
        "host_scale": host_scale,
        "pages_per_s": rec["n_pages"] / run_s if run_s else 0.0,
        "cpu_s": _median([s["cpu_s"] for s in plain]) * host_scale,
        "peak_rss_mb": max(
            (s["peak_rss_mb"] for s in plain + rec["warmups"] if s["ok"]), default=0.0
        ),
        "bytes_written_per_page": _median([s["write_bytes"] for s in plain]) / rec["n_pages"],
        "sink_bytes_per_page": _median([s["sink_bytes"] for s in plain]) / rec["n_pages"],
        "setup_s": rec["setup_s"] * host_scale,
        **rec["facts"],
        "steal": _median([s["steal"] for s in plain]),
        "sibling_busy": _median([s["sibling_busy"] for s in plain]),
    }
    units = per_layer_units()
    if not rec["trace"]:
        metrics = {k: {"value": summary[k], "unit": u} for k, u in END_TO_END.items()}
        return metrics, summary
    layers = {}
    # a layer this workload never calls reads 0: it did no work there
    values = dict.fromkeys(units, 0.0)
    for s in traced:
        for layer, ms in s["layers"].items():
            for m, v in ms.items():
                key = f"{layer}.{m}"
                if key in units:
                    layers.setdefault(key, []).append(v)
    values.update({k: _median(v) for k, v in layers.items()})
    summary["traced_wall_s"] = _median([s["wall_s"] for s in traced])
    values["trace.overhead_s"] = summary["traced_wall_s"] - summary["wall_s"]
    summary["trace_overhead_s"] = values["trace.overhead_s"]
    summary["traced_passes"] = len(traced)
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items()}
    return metrics, summary


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still unwinds, so the JVM it started is stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "fileverification_spark")):
        print("perfbench: no fileverification_spark package next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        rec = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics, summary = summarise(rec)
    rec["metrics"], rec["summary"] = metrics, summary
    out = os.path.join(base, "records",
                       f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(rec, f, indent=1, default=str)
    for s in rec["samples"] + rec["warmups"]:
        if not s["ok"]:
            print(f"perfbench: pass {s['tag']} failed: {s.get('error')}", file=sys.stderr)
    print("perfbench " + " ".join(
        f"{k}={v:.6g}" if isinstance(v, float) else f"{k}={v}"
        for k, v in summary.items() if not isinstance(v, list)
    ) + f" record={os.path.relpath(out, ROOT)}")
    print(json.dumps({
        "correct": summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
