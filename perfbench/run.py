"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 18 --trace 0
    python3 perfbench/run.py --selfcheck

Materialises (or reuses) the seeded inputs, sets the session up twice
(the cold JVM launch, then a context restart; a set-up is ``get_spark``
+ opening the inputs + one small warm-up job), builds the inputs the
program itself makes, runs two untimed full-size jobs, then the
workload's job back to back for ``--seconds`` (closed loop, one job at
a time), checks the outputs, and prints one
JSON line: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Exits 1 when an output check fails, 2 when
the program or the workload is missing. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DRIVER_MEM = "2g"  # fits a 15 GiB host next to 4 Python workers
SETUP_CYCLES = 2
WARM_JOBS = 2
MIN_JOBS = 3
SPAN_PROP = "perfbench.span"
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def prepare_env() -> int:
    """Pin memory, threads and every scratch directory inside the checkout."""
    cores = len(os.sched_getaffinity(0))
    for d in ("spark-local", "tmp", "scratch", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return cores


def base_conf() -> dict[str, str]:
    """A heap committed and touched at launch, so that the process-tree
    RSS does not drift with heap growth from job to job; the JVM's
    temporary files in the checkout; no progress bars."""
    return {"spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "spark.ui.showConsoleProgress": "false"}


class Session:
    """Owns the SparkSession and the JVM it runs in."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None

    def start(self, extra: dict[str, str] | None = None):
        from rp_extract_spark.session import get_spark

        self.spark = get_spark("perfbench", cores=self.cores,
                               extra={**base_conf(), **(extra or {})})
        return self.spark

    def restart(self, extra: dict[str, str] | None = None):
        self.spark.stop()
        return self.start(extra)

    def close(self) -> None:
        """Stop the context, then the JVM, and wait for both."""
        from pyspark import SparkContext

        from perfbench.trace import descendants

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 - escalate below
                    proc.kill()
                    proc.wait(timeout=10)
        deadline = time.time() + 20
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def setup_cycles(sess: Session, wl, launch_s: float) -> dict:
    """Median set-up over SETUP_CYCLES: the cold launch measured by the
    caller, then restarts of the SparkContext in the same JVM. A set-up
    is the session start + opening the inputs + one small warm-up job."""
    from perfbench.trace import median

    cycles, restarts, warmups = [], [], []
    for c in range(SETUP_CYCLES):
        t0 = time.perf_counter()
        if c:
            sess.restart()
            restarts.append(time.perf_counter() - t0)
        t1 = time.perf_counter()
        wl.open(sess.spark)
        wl.prepare()
        t2 = time.perf_counter()
        wl.warmup()
        t3 = time.perf_counter()
        warmups.append(t3 - t2)
        cycles.append((t1 - t0 if c else launch_s) + t3 - t1)
        log(f"set-up {c}: {cycles[-1]:.3f}s (warm-up job {t3 - t2:.3f}s)")
    return {"setup_s": median(cycles), "session.start_s": median(restarts),
            "session.warmup_s": median(warmups), "session.launch_s": launch_s,
            "cycles": cycles}


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int]) -> float:
    """Share of all CPU ticks since ``before`` that the hypervisor stole."""
    d = [a - b for a, b in zip(cpu_ticks(), before)]
    return d[7] / max(sum(d), 1) if len(d) > 7 else 0.0


def timed_loop(wl, seconds: float, sampler) -> dict:
    """Closed loop: one job at a time until ``seconds`` have passed and
    at least MIN_JOBS jobs ran. Every job's output is checked."""
    walls, delivered, attempted, failed = [], 0, 0, 0
    checks: list[str] = []
    last = None
    sampler.window()
    steal0 = cpu_ticks()
    begin = time.perf_counter()
    while time.perf_counter() - begin < seconds or attempted < MIN_JOBS:
        wl.prepare()
        attempted += 1
        t0 = time.perf_counter()
        try:
            last = wl.job()
        except Exception:  # noqa: BLE001 - a raising job counts as failed
            log(traceback.format_exc())
            failed += 1
            continue
        walls.append(time.perf_counter() - t0)
        delivered += last["delivered"]
        checks += wl.check_job(last)
        log(f"job {attempted}: {walls[-1]:.3f}s, RSS JVM/Python "
            + "/".join(f"{b / 2**20:.0f}" for b in sampler.sample()[1:]) + " MB")
    total, jvm, py = sampler.peaks()
    log(f"timed loop: {steal_share(steal0):.1%} of CPU time stolen by the host")
    if last is not None:
        checks += wl.verify(last)
    return {"walls": walls, "delivered": delivered, "attempted": attempted,
            "failed": failed, "checks": checks, "rss": (total, jvm, py)}


def end_to_end(wl, setup: dict, loop: dict) -> dict:
    from perfbench.trace import median

    return {
        "setup_s": setup["setup_s"],
        "rows_per_s": wl.rows / median(loop["walls"]) if loop["walls"] else 0.0,
        # a job that raised delivered none of its rows
        "delivered_frac": loop["delivered"] / (wl.attempted_rows * loop["attempted"]),
        "peak_rss_mb": loop["rss"][0] / 2**20,
    }


def per_layer(sess: Session, wl, setup: dict, loop: dict, frame, run_id: str) -> dict:
    """Traced run: a plain job and a traced job in a session that writes
    an uncompressed event log, plus the in-process probes."""
    from perfbench import trace
    from perfbench.workloads import probe

    logdir = os.path.join(WORK, "eventlog", run_id)
    os.makedirs(logdir)
    spark = sess.restart({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file://" + logdir,
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false"})
    sc = spark.sparkContext

    def tag(sid):
        sc.setLocalProperty(SPAN_PROP, None if sid is None else str(sid))

    tr = trace.Tracer(run_id, on_enter=tag)
    wl.open(spark)
    wl.prepare()
    with tr.span("warmup"):
        wl.warmup()
    wl.prepare()
    with tr.span("plain"):
        wl.job()
    force = os.path.join(WORK, "scratch", "trace", run_id)
    os.makedirs(force)
    wl.prepare()
    out = wl.traced(tr, force)
    tag(None)
    spark.stop()  # flushes the event log
    (name,) = os.listdir(logdir)
    ev = trace.EventLog(os.path.join(logdir, name), SPAN_PROP)

    under = tr.subtree
    plain = {s.id for s in tr.find("plain")}
    counts = {"exchanges": 0, "sorts": 0, "python_evals": 0}
    for e in ev.execs_of(plain):
        for k, v in ev.plan_counts(e["plan"]).items():
            counts[k] += v
    (job,) = tr.find("job")
    untraced = trace.median(loop["walls"])
    m = {
        "session.start_s": setup["session.start_s"],
        "session.warmup_s": setup["session.warmup_s"],
        "session.launch_s": setup["session.launch_s"],
        "plan.exchanges": counts["exchanges"],
        "plan.sorts": counts["sorts"],
        "plan.python_evals": counts["python_evals"],
        "jvm.gc_s": sum(t["gc"] for t in ev.tasks_of(plain)),
        "proc.jvm_rss_mb": loop["rss"][1] / 2**20,
        "proc.python_rss_mb": loop["rss"][2] / 2**20,
        "trace.overhead_frac": job.duration / untraced - 1 if untraced else 0.0,
        "extract.quarantined_rows": out.get("extract.quarantined_rows", 0),
        "asof.matched_frac": out.get("asof.matched_frac", 0.0),
        "resume.pending_rows": out.get("resume.pending_rows", 0),
        "resume.files_written": out.get("resume.files_written", 0),
        "resume.bytes_written": out.get("resume.bytes_written", 0),
        "resume.output_bytes_per_row": out.get("resume.output_bytes_per_row", 0.0),
    }
    # extract layer
    ext = under("extract")
    tasks = [t["wall"] for t in ev.tasks_of(ext)]
    stage_wall = sum(s["wall"] for s in ev.stages_of(ext).values())
    m["extract.span_s"] = sum(s.duration for s in tr.find("extract"))
    m["extract.tasks"] = len(tasks)
    m["extract.task_s_p50"] = trace.quantile(tasks, 0.5)
    m["extract.task_s_max"] = max(tasks, default=0.0)
    m["extract.core_busy_frac"] = (sum(tasks) / (stage_wall * sess.cores)
                                   if stage_wall else 0.0)
    # as-of layer
    asof = under("asof")
    a_tasks = ev.tasks_of(asof)
    reduce = [t["run"] for t in a_tasks if t["shuffle_read"] > 0]
    p50 = trace.quantile(reduce, 0.5)
    m["asof.span_s"] = sum(s.duration for s in tr.find("asof"))
    m["asof.shuffle_bytes_per_row"] = (sum(t["shuffle_write"] for t in a_tasks)
                                       / max(out.get("asof.left_rows", 0), 1))
    m["asof.spill_bytes"] = sum(t["spill"] for t in a_tasks)
    m["asof.task_skew"] = max(reduce) / p50 if p50 else 0.0
    # windows layer
    win = under("windows")
    m["windows.span_s"] = sum(s.duration for s in tr.find("windows"))
    m["windows.spill_bytes"] = sum(t["spill"] for t in ev.tasks_of(win))
    # resume layer
    ws = tr.find("resume.write_snapshot")
    m["resume.write_snapshot_s"] = sum(s.duration for s in ws)
    readback = [e for e in ev.execs_of({s.id for s in ws})
                if not any(k in json.dumps(e["plan"])
                           for k in ("InsertIntoHadoopFsRelation", "WriteFiles"))]
    m["resume.metrics_readback_s"] = sum(e["end"] - e["start"] for e in readback)
    m["resume.noop_rerun_s"] = sum(s.duration for s in tr.find("resume.noop_rerun"))
    m.update(probe(frame))
    shutil.rmtree(force, ignore_errors=True)
    shutil.rmtree(logdir, ignore_errors=True)
    tr.dump(os.path.join(WORK, f"trace-{wl.name}-{run_id}.json"))
    log(f"spans and per-layer values in {WORK}/trace-{wl.name}-{run_id}.json")
    return m


def run(args) -> int:
    cores = prepare_env()
    from perfbench.trace import RssSampler, median
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2
    wl = WORKLOADS[args.workload](args.seed, os.path.join(WORK, "scratch"))
    log(f"workload={wl.name} seed={args.seed} nproc={cores} "
        f"SPARK_DRIVER_MEM={DRIVER_MEM} seconds={args.seconds} trace={args.trace}")
    sess = Session(cores)
    with RssSampler() as sampler:
        try:
            t1 = time.perf_counter()
            wl.materialise()
            log(f"inputs ready in {time.perf_counter() - t1:.1f}s")
            t0 = time.perf_counter()
            sess.start()
            launch_s = time.perf_counter() - t0
            setup = setup_cycles(sess, wl, launch_s)
            t2 = time.perf_counter()
            wl.build()
            log(f"untimed inputs built in {time.perf_counter() - t2:.1f}s")
            # untimed full-size jobs, so the loop measures JIT-compiled code
            for _ in range(WARM_JOBS):
                wl.prepare()
                t2 = time.perf_counter()
                wl.job()
                log(f"untimed full-size job: {time.perf_counter() - t2:.3f}s")
            loop = timed_loop(wl, args.seconds, sampler)
            fails = loop["checks"]
            log("outputs checked")
            if args.trace:
                metrics = per_layer(sess, wl, setup, loop, wl.probe_frame(),
                                    uuid.uuid4().hex[:8])
            else:
                metrics = end_to_end(wl, setup, loop)
        finally:
            sess.close()
            log("session closed")
    for f in fails:
        log(f"CHECK FAILED: {f}")
    walls = loop["walls"]
    log(f"jobs={loop['attempted']} failed={loop['failed']} "
        f"median={median(walls):.3f}s min={min(walls, default=0):.3f}s "
        f"max={max(walls, default=0):.3f}s setup_cycles="
        + ",".join(f"{c:.3f}" for c in setup["cycles"]))
    units = {m["name"]: m["unit"] for m in
             spec()["per_layer" if args.trace else "end_to_end"]}
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not produced: {sorted(missing)}")
    basis = {"rows_per_s": f"median of {len(walls)} jobs",
             "setup_s": f"median of {len(setup['cycles'])} set-ups"}
    for k in sorted(units):
        log(f"{k} = {metrics[k]:.6g} {units[k]} {basis.get(k, '')}".rstrip())
    result = {
        "correct": not fails and loop["failed"] == 0,
        "attempted": loop["attempted"],
        "failed": loop["failed"],
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in sorted(units)},
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="flagship",
                    help="flagship, resume_append or asof_sessions")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18,
                    help="length of the timed closed loop")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true",
                    help="check generator determinism and span arithmetic")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "rp_extract_spark")):
        log(f"the program (rp_extract_spark/) is not next to {HERE}")
        return 2
    sys.path.insert(0, ROOT)
    if args.selfcheck:
        from perfbench.selfcheck import main as selfcheck

        return selfcheck()
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
