#!/usr/bin/env python3
"""Benchmark: one workload, one seed, in a fresh process on local[nproc].

    python3 perfbench/run.py --workload cs-iterate --seed 42 --seconds 25 --trace 0
    python3 perfbench/run.py --smoke      # every workload, small inputs

Set-up starts the Spark session and makes the workload's inputs from the
seed; then the workload's ops run one at a time, in passes, until
``--seconds`` have gone by (at least one pass). Each op is timed around one
public engine call and checked afterwards against an independent
reference. With ``--trace 0`` the last stdout line is a JSON object with the
end-to-end metrics (medians over passes); with ``--trace 1`` it has the
per-layer metrics of one traced pass over every op, read from Spark's status
store between ops. Spans of a traced run go to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3

# (op, metric prefix) of the layers every traced run reports
LAYERS = (("ingest", "sources.ingest"), ("pagerank", "pagerank_csr"),
          ("pagerank_join", "pagerank"), ("cc", "cc"), ("lp", "lp"),
          ("triangles", "triangles"), ("resume", "checkpoint.resume"))
GENERIC = ("wall_s", "jobs", "tasks", "executor_run_ms", "jvm_cpu_ms",
           "jvm_wait_ms", "python_cpu_s", "driver_s", "shuffle_bytes",
           "spill_bytes")


def unit(name: str) -> str:
    if name.endswith("cpu_s"):
        return "CPU-s"
    if name.endswith("_per_s"):
        return "edges/s"
    if "bytes" in name:
        return "bytes"
    for suffix, u in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                      ("_ratio", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


def process_start() -> float:
    """Epoch time at which this process was started."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


def host_env(work: str, cores: int, ram_gb: float) -> dict:
    """Session settings for this host, passed only through the engine's
    ``SPARK_GRAFT_*`` variables and ``get_spark(extra_conf=...)``."""
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(f"{work}/{sub}", exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),  # cores and shuffle partitions
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, int(ram_gb // 4)))}g",
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "TMPDIR": f"{work}/tmp",
        # every JVM (the launcher's too): temp files here, no /tmp perf data
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
    })
    return {
        "spark.ui.showConsoleProgress": "false",
        # keep every job and stage of a run in the status store
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
    }


def describe(out) -> dict:
    """The numbers a check or a layer needs from an op's return value."""
    if isinstance(out, int):
        return {"count": out}
    return {"iterations": out.iterations,
            "walls": [m.wall_s for m in out.metrics],
            "changed": [m.extra.get("changed", 0) for m in out.metrics]}


def timed_op(run, name, op, cpu, ledger) -> dict:
    """Run one op (timed), then check its output (untimed)."""
    from ledger import Cpu
    sample: dict = {"op": name}
    try:
        if op.before:
            op.before(run)
        if ledger:
            ledger.mark()
        c0, w0, t0 = cpu.read(), time.time(), time.perf_counter()
        out = op.run(run)
        sample["wall_s"] = time.perf_counter() - t0
        sample.update(Cpu.split(c0, cpu.read()))
        sample["start"] = w0
        if ledger:
            sample.update(ledger.collect(name, w0, w0 + sample["wall_s"]))
        sample.update(describe(out))
        sample["ok"] = bool(op.check(run, out))
    except Exception:  # an op or check that raises counts as failed
        traceback.print_exc()
        sample["ok"] = False
    if not sample["ok"]:
        print(f"FAILED: {name} on {run.spec.name} seed {run.seed}",
              file=sys.stderr)
    return sample


def run_passes(run, ops, cpu, ledger, seconds: float, one_pass: bool):
    from workloads import OPS
    passes = []
    t_end = time.perf_counter() + seconds
    while True:
        t = time.perf_counter()
        run.release_pass()
        passes.append({name: timed_op(run, name, OPS[name], cpu, ledger)
                       for name in ops})
        # start another pass only if one as long as this one still fits
        if one_pass or 2 * time.perf_counter() - t > t_end:
            return passes


def end_to_end(passes, spec, setup_s: float) -> tuple[dict, dict]:
    """(gated metrics, per-op medians); every value a median over passes."""
    def med(fn):
        return statistics.median(fn(p) for p in passes)

    ops = {f"{o}_s": med(lambda p: p[o]["wall_s"]) for o in spec.ops}
    return {
        "setup_s": setup_s,
        "pagerank_s": ops["pagerank_s"],
        "pagerank_edges_per_s": med(
            lambda p: p["ingest"]["count"] * p["pagerank"]["iterations"]
            / p["pagerank"]["wall_s"]),
        "total_s": med(lambda p: sum(p[o]["wall_s"] for o in spec.ops)),
        "cpu_s": med(lambda p: sum(p[o]["cpu_s"] for o in spec.ops)),
    }, ops


def _p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def per_layer(p: dict, run, setup: dict, ledger) -> dict:
    m = {"session.start_s": setup["session_s"],
         "sources.load_s": setup["load_s"]}
    for op, prefix in LAYERS:
        for k in GENERIC:
            m[f"{prefix}.{k}"] = p[op][k]

    def sweep_phase(s, key):
        """Sum of ``key`` over the stages submitted after the build."""
        t_build = s["start"] + s["wall_s"] - sum(s["walls"])
        return sum(st[key] if key else 1 for st in s["stage_list"]
                   if st["submitted_ms"] / 1e3 >= t_build - 1e-3)

    pr = p["pagerank"]
    sweeps = len(pr["walls"])
    m.update({
        "pagerank_csr.sweeps": sweeps,
        "pagerank_csr.sweep_p50_ms": _p50(pr["walls"]) * 1e3,
        "pagerank_csr.sweep_max_ms": max(pr["walls"]) * 1e3,
        "pagerank_csr.tasks_per_sweep": sweep_phase(pr, "tasks") / sweeps,
        "pagerank_csr.build_s": pr["wall_s"] - sum(pr["walls"]),
    })
    pj = p["pagerank_join"]
    js = len(pj["walls"])
    m.update({
        "pagerank.sweep_p50_ms": _p50(pj["walls"]) * 1e3,
        "pagerank.stages_per_sweep": sweep_phase(pj, None) / js,
        "pagerank.shuffle_bytes_per_sweep":
            sweep_phase(pj, "shuffle_bytes") / js,
    })
    cc = p["cc"]
    # round i re-sends the labels that changed in round i-1 (all, first)
    resent = [run.state["graph"].num_vertices] + cc["changed"][:-1]
    m.update({
        "cc.rounds": cc["iterations"],
        "cc.round_p50_ms": _p50(cc["walls"]) * 1e3,
        "cc.changed_ratio": sum(cc["changed"]) / max(1, sum(resent)),
        "lp.sweep_p50_ms": _p50(p["lp"]["walls"]) * 1e3,
        "triangles.shuffle_records_per_triangle":
            p["triangles"]["shuffle_records"]
            / max(1, p["triangles"]["count"]),
    })
    ckpt_dir = run.state["ckpt_dir"]
    ckpt = p["pagerank" if run.spec.checkpoint else "pagerank_ckpt"]
    m.update({
        "checkpoint.snapshots": sum(
            1 for d in os.listdir(ckpt_dir) if d.startswith("iter_")),
        "checkpoint.bytes_written": sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(ckpt_dir) for f in fs),
        # the snapshot writes are the checkpointed call's parquet jobs
        "checkpoint.overhead_s": sum(j["s"] for j in ckpt["job_list"]
                                     if j["name"].startswith("parquet at")),
        "checkpoint.resume_sweeps": len(p["resume"]["walls"]),
    })
    m.update({
        "trace.total_s": sum(p[o]["wall_s"] for o in run.spec.ops),
        "trace.read_s": ledger.read_s,
        "trace.spans": len(ledger.spans),
    })
    return m


def main() -> int:
    from workloads import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=25,
                    help="measure passes for this long, at least one")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="small inputs, one traced pass of every workload")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke")
    names = [args.workload] if args.workload else sorted(WORKLOADS)

    import ledger as L
    t_proc = process_start()
    cores, ram = L.nproc(), L.ram_gb()
    work = f"{HERE}/.work/{os.getpid()}"
    conf = host_env(work, cores, ram)
    from haskellpagerank_spark.session import get_spark
    from pyspark import SparkContext
    spark = get_spark(app_name="perfbench", extra_conf=conf)
    start_workers(spark, cores)
    session_s = time.time() - t_proc
    proc = SparkContext._gateway.proc
    try:
        ok = True
        for name in names:
            ok &= run_workload(spark, WORKLOADS[name], args, work, session_s,
                               trace=bool(args.trace or args.smoke))
    finally:
        stop(spark, proc)
        shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


def start_workers(spark, cores: int) -> None:
    """The session is up once its Python workers are: one Arrow UDF task per
    core starts them, and each imports pandas and pyarrow once. Without this
    the first op that runs Python pays it, noisily, inside its timing."""
    (spark.range(0, cores, numPartitions=cores)
     .mapInPandas(lambda batches: batches, "id long").count())


def stop(spark, proc) -> None:
    """Stop the session, the JVM and the Python workers it started, and
    wait for every one of them to end."""
    import ledger as L
    from pyspark import SparkContext
    spawned = L.descendants(proc.pid)
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=120)
    deadline = time.monotonic() + 30
    while alive := [p for p in spawned if L.running(p)]:
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
        time.sleep(0.1)


def run_workload(spark, spec, args, work, session_s, trace: bool) -> bool:
    import ledger as L
    from workloads import Run, traced_ops
    run = Run(spec, spark, args.seed, f"{work}/{spec.name}",
              "smoke" if args.smoke else "full")
    loads = []
    for _ in range(SETUP_REPS):
        t = time.perf_counter()
        run.inputs.prepare()
        loads.append(time.perf_counter() - t)
    setup = {"session_s": session_s, "load_s": statistics.median(loads)}
    setup_s = session_s + setup["load_s"]

    sc = spark.sparkContext
    cpu = L.Cpu(sc._gateway.proc.pid)
    trace_id = f"{spec.name}-seed{args.seed}-{os.getpid()}"
    ledger = L.Ledger(sc, trace_id) if trace else None
    passes = run_passes(run, traced_ops(spec) if trace else spec.ops, cpu,
                        ledger, args.seconds, one_pass=trace)
    samples = [s for p in passes for s in p.values()]
    failed = sum(not s["ok"] for s in samples)
    for i, p in enumerate(passes, 1):
        print(f"pass {i}:", ", ".join(f"{k} {v['wall_s']:.3f} s"
                                      for k, v in p.items() if "wall_s" in v))
    host = L.host_record()
    print("host", json.dumps(host))
    print(f"passes {len(passes)}  ops_failed {failed}/{len(samples)} ratio")

    if trace:
        evicted = ledger.evicted()
        if evicted:
            print(f"FAILED: {evicted} stages evicted from the status store",
                  file=sys.stderr)
            failed += 1
        try:
            metrics = per_layer(passes[0], run, setup, ledger)
            metrics.update(measure_floors(run))
        except KeyError:  # a failed op left no sample to read
            traceback.print_exc()
            return False
        run.release_pass()
        run.inputs.release()
        rdds, mb = ledger.cached()
        metrics.update({"mem.cached_rdds": rdds, "mem.cached_mb": mb,
                        "session.jvm_peak_rss_mb": L.vm_hwm_mb(cpu.jvm_pid)})
        write_spans(spec.name, args.seed, host, ledger.spans)
    else:
        try:
            metrics, ops = end_to_end(passes, spec, setup_s)
        except KeyError:  # a failed op left no sample to read
            traceback.print_exc()
            return False
        for k, v in ops.items():  # not gated one by one: all in total_s
            print(f"op {k} {v} {unit(k)}")
        run.release_pass()
        run.inputs.release()
    for k, v in metrics.items():
        print(f"{k} {v} {unit(k)}")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(samples), "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)}
                    for k, v in metrics.items()},
    }), flush=True)
    return failed == 0


def measure_floors(run) -> dict:
    """COST and JVM-only floors on the pass's cached graph."""
    from workloads import jvm_scan, local_floor
    t = time.perf_counter()
    local_floor(run)
    local_s = time.perf_counter() - t
    scans = []
    for _ in range(3):
        t = time.perf_counter()
        jvm_scan(run)
        scans.append(time.perf_counter() - t)
    return {"floor.local_pagerank_s": local_s,
            "floor.jvm_scan_ms": statistics.median(scans) * 1e3}


def write_spans(name: str, seed: int, host: dict, spans: list) -> None:
    out = f"{HERE}/out"
    os.makedirs(out, exist_ok=True)
    with open(f"{out}/spans-{name}-seed{seed}.jsonl", "w") as fh:
        fh.write(json.dumps({"host": host}) + "\n")
        for s in spans:
            fh.write(json.dumps(s) + "\n")


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    try:
        import workloads  # noqa: F401  (imports the engine)
    except ImportError as e:
        print(f"cannot import the engine from {os.path.dirname(HERE)}: {e}",
              file=sys.stderr)
        sys.exit(2)
    sys.exit(main())
