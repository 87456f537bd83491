"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload registry_queries --seed 1 \
        --seconds 6 --trace 0

Run from the root of a checkout. One process, one SparkSession on
``local[N]`` with N = the CPUs this process may use, shuffle partitions
= N. Inputs are generated from ``--seed`` and cached under
``.perfbench/stage``; every other file the run writes (Spark local dirs,
outputs, event log, spans) goes under ``.perfbench`` too.

The run stages inputs, starts the session, warms up, then runs whole
passes over the workload's ops until ``--seconds`` have passed, checks
the outputs (untimed) and prints a table of every metric, a details
line, and last one JSON object. Time metrics are scaled by host
factors, measured by a CPU probe outside the JVM between ops (see
``Ctx.probe``); the unscaled values are in the details line. The JSON
object is ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on the
Spark event log and span tagging and reports the per-layer metrics
instead.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import contextmanager

import host

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

import tracing as tr  # noqa: E402
import workloads  # noqa: E402

MB = 1024.0 * 1024.0
PACKAGE = "datawarehouse_vehicule_insurance_spark"
#: seeds per full rotation of the output check: each run checks every
#: CHECK_GROUPS-th registry path, so any CHECK_GROUPS consecutive seeds
#: (one set of steady.py's runs) check every path
CHECK_GROUPS = 5
#: a run stops starting new passes after this long, whatever --seconds says
MAX_LOOP_S = 120.0
#: the probe's median time on the reference box (4 vCPUs) when quiet; a
#: host factor is a median probe time over this
PROBE_S = 0.028
#: probe samples taken right before the session starts and again right
#: after the warm-up, for the factor that scales setup_s
SETUP_PROBES = 5


class Ctx:
    """What a workload's passes need: session, inputs, tracer, op log."""

    def __init__(self, spark, data, work, tracer, traced, cpu_probe):
        self.spark = spark
        self.sc = spark.sparkContext
        self.data = data
        self.work = work
        self.tracer = tracer
        self.traced = traced
        self.cpu_probe = cpu_probe
        self.ops: list[tr.Span] = []
        self.probes: list[tr.Span] = []
        self.blocks_held = 0
        self.blocks_mb = 0.0

    def work_dir(self, name: str) -> str:
        return workloads.work_path(self.work, name)

    def open_op(self, name: str, layer: str | None) -> tr.Span:
        return self.tracer.open(name, kind="op", layer=layer)

    def close_op(self, span: tr.Span, keep: bool = True) -> None:
        self.tracer.close(span)
        if not keep:
            span.attrs["kind"] = "tail"
            return
        self.ops.append(span)
        if self.traced:
            self._after_op(span)
        self.probe()

    def probe(self) -> None:
        """Sample the host's CPU speed after each op (``host.CpuProbe``:
        a fixed loop on N processes outside the JVM). The host this VM
        shares its CPUs with slows whole runs by 15-90 % for a minute or
        more; the median of these samples measures that slowdown while
        the ops run, and the time metrics are divided by it
        (``host_factor``). The package cannot move the probe, so a
        slowdown it causes, JVM-wide ones included, is not cancelled."""
        with self.tracer.span("probe", kind="probe") as span:
            self.cpu_probe.sample()
        self.probes.append(span)

    @contextmanager
    def op(self, name: str, layer: str):
        span = self.open_op(name, layer)
        try:
            yield span
        finally:
            self.close_op(span)

    def storage(self) -> tuple[int, float]:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        blocks = sum(i.numCachedPartitions() for i in infos)
        mb = sum(i.memSize() + i.diskSize() for i in infos) / MB
        return blocks, mb

    def _after_op(self, span: tr.Span) -> None:
        group = f"{self.tracer.run_id}/{span.id}"
        span.attrs["status_jobs"] = len(
            self.sc.statusTracker().getJobIdsForGroup(group)
        )
        blocks, mb = self.storage()
        span.attrs["blocks_held"] = blocks
        self.blocks_held = max(self.blocks_held, blocks)
        self.blocks_mb = max(self.blocks_mb, mb)


def _stage_totals(sc, after_stage: int) -> tuple[int, dict]:
    """Sum bytes written (sink output, shuffle, disk spill) over stages
    with id > ``after_stage``; also returns the highest stage id."""
    jvm, gw = sc._jvm, sc._gateway
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        gw.new_array(gw.jvm.double, 0), jvm.java.util.ArrayList(),
    )
    top, out = after_stage, {"output": 0, "shuffle_write": 0, "spill": 0}
    for i in range(stages.size()):
        s = stages.apply(i)
        sid = s.stageId()
        if sid <= after_stage:
            continue
        top = max(top, sid)
        out["output"] += s.outputBytes()
        out["shuffle_write"] += s.shuffleWriteBytes()
        out["spill"] += s.diskBytesSpilled()
    return top, out


def _gc_seconds(sc) -> float:
    beans = sc._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0


def _canary(spark, rows: int = 20_000_000, reps: int = 3) -> float:
    """``bench.py``'s JVM canary at a smaller size: min-of-``reps`` wall
    time of a fixed pure-CPU job (sum of xxhash64 over a range)."""
    from pyspark.sql import functions as F

    def once() -> float:
        t = time.perf_counter()
        spark.range(rows).select(
            F.sum(F.xxhash64("id") % F.lit(1_000_000_007))
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t

    once()
    return min(once() for _ in range(reps))


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    for every one of them to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_pid = gateway.proc.pid if gateway is not None else None
    tree = host.descendants(jvm_pid) if jvm_pid else []
    spark.stop()
    if gateway is None:
        return
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be going
        pass
    proc = gateway.proc
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    while host.alive(tree) and time.time() < deadline:
        for pid in host.alive(tree):
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        time.sleep(0.1)
    for pid in host.alive(tree):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def code_version() -> str:
    """A hash of the package's and the benchmark's Python sources."""
    files = []
    for top in (os.path.join(ROOT, PACKAGE), HERE):
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names
                      if n.endswith(".py")]
    digest = hashlib.sha256()
    for path in sorted(files):
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    return digest.hexdigest()[:16]


def _session(work: str, slots: int, traced: bool, eventlog_dir: str):
    from datawarehouse_vehicule_insurance_spark import get_spark

    tmp = workloads.work_path(work, "tmp")
    local = workloads.work_path(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # no hsperfdata files under /tmp from the launcher or driver JVMs
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts
    conf = {
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": jvm_opts,
        "spark.sql.warehouse.dir": workloads.work_path(work,
                                                       "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep every stage in the status store: write_amp sums them
        "spark.ui.retainedStages": "1000000",
        "spark.ui.retainedJobs": "1000000",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{eventlog_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{slots}]",
                      shuffle_partitions=slots, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    traced = bool(args.trace)
    started = host.process_start_epoch()

    wl = workloads.make(args.workload)
    work_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(work_root, "run", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    slots = host.nproc()
    load_before = os.getloadavg()

    t = time.time()
    data, manifest, staged_now = wl.stage(
        os.path.join(work_root, "stage"), args.seed, slots
    )
    staging_s = time.time() - t
    rows_per_pass, bytes_per_pass = wl.per_pass_input(manifest)

    eventlog_dir = workloads.work_path(work, "eventlog")
    # forked before the JVM and its threads start
    cpu_probe = host.CpuProbe(slots)
    t = time.time()
    for _ in range(SETUP_PROBES):
        cpu_probe.sample()
    setup_probe_s = time.time() - t
    t = time.time()
    spark = _session(work, slots, traced, eventlog_dir)
    session_s = time.time() - t
    sc = spark.sparkContext
    from pyspark import SparkContext

    jvm_pid = SparkContext._gateway.proc.pid
    sampler = host.RssSampler(jvm_pid).start()

    run_id = f"{args.workload}-{args.seed}-{int(time.time())}"
    tracer = tr.Tracer(run_id, sc if traced else None)
    ctx = Ctx(spark, data, work, tracer, traced, cpu_probe)

    t = time.time()
    with tracer.span("warm_up", kind="setup"):
        wl.warm_up(ctx)
    warm_up_s = time.time() - t
    t = time.time()
    for _ in range(SETUP_PROBES):
        cpu_probe.sample()
    setup_probe_s += time.time() - t
    setup_probes = list(cpu_probe.samples)
    setup_factor = statistics.median(setup_probes) / PROBE_S
    cpu_probe.samples.clear()

    stage_mark, _ = _stage_totals(sc, -1)
    gc_before = _gc_seconds(sc)
    failures: list[tuple[str, str]] = []
    passes: list[tr.Span] = []
    pass_probes: list[list[float]] = []
    loop_start = time.time()
    while True:
        first = len(cpu_probe.samples)
        with tracer.span("pass", kind="pass") as ps:
            failures += wl.run_pass(ctx)
        passes.append(ps)
        pass_probes.append(cpu_probe.samples[first:])
        elapsed = time.time() - loop_start
        if elapsed >= MAX_LOOP_S or (
            elapsed >= args.seconds and len(passes) >= wl.min_passes
        ):
            break
    peak_rss = sampler.stop()
    gc_s = _gc_seconds(sc) - gc_before
    _, written = _stage_totals(sc, stage_mark)
    blocks_end, _ = ctx.storage()

    # ---- untimed: output check and host canary --------------------------
    t = time.time()
    check_failures, check_info = wl.check(
        ctx, wl.check_subset(args.seed, CHECK_GROUPS)
    )
    check_s = time.time() - t
    canary_s = _canary(spark)
    load_after = os.getloadavg()
    _stop_spark(spark)
    cpu_probe.close()

    # ---- metrics --------------------------------------------------------
    # Each pass is scaled by the median of its own probe samples, because
    # the host's speed can change within a run; set-up by the samples
    # that bracket it.
    setup_s = loop_start - started - staging_s - setup_probe_s
    pass_walls = [p.duration for p in passes]
    probe_s = statistics.median(cpu_probe.samples)
    factor = probe_s / PROBE_S
    pass_factors = [statistics.median(x) / PROBE_S for x in pass_probes]
    pass_ops = [[o.duration for o in ctx.ops if p.start <= o.start < p.end]
                for p in passes]
    raw_walls = [w for ops in pass_ops for w in ops]
    op_walls = [w / f for ops, f in zip(pass_ops, pass_factors) for w in ops]
    run_s = statistics.median(
        sum(ops) / f for ops, f in zip(pass_ops, pass_factors)
    )
    tail_s, tail_pct, tail_n = tr.tail_percentile(op_walls)
    bytes_written = sum(written.values())
    attempted = len(ctx.ops)
    failed = len(failures) + len(check_failures)

    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": slots, "loadavg_before": [round(x, 2) for x in load_before],
        "loadavg_after": [round(x, 2) for x in load_after],
        "canary_s": round(canary_s, 4),
        "staging_s": round(staging_s, 3), "staged_now": staged_now,
        "session_start_s": round(session_s, 3),
        "peak_rss_jvm_mb": round(sampler.peak_root / MB, 1),
        "warm_up_s": round(warm_up_s, 3),
        "passes": len(passes),
        "pass_walls_s": [round(x, 3) for x in pass_walls],
        "check_s": round(check_s, 3),
        "process_s": round(time.time() - started, 3),
        "host_factor": round(factor, 4),
        "setup_factor": round(setup_factor, 4),
        "pass_factors": [round(f, 4) for f in pass_factors],
        "probe_ms": {"setup": [round(x * 1000, 1) for x in setup_probes],
                     "passes": [[round(x * 1000, 1) for x in p]
                                for p in pass_probes]},
        "probes": len(cpu_probe.samples),
        "probe_median_s": round(probe_s, 4),
        "unscaled": {
            "setup_s": round(setup_s, 3),
            "run_s": round(statistics.median(sum(x) for x in pass_ops), 3),
            "op_p50_s": round(statistics.median(raw_walls), 4),
            "op_tail_s": round(tr.tail_percentile(raw_walls)[0], 4),
        },
        "ops": attempted, "op_walls_s": {
            f"{o.name}#{i}": round(o.duration, 3)
            for i, o in enumerate(ctx.ops)
        },
        "op_tail_percentile": tail_pct,
        "op_tail_samples": tail_n, "rows_per_pass": rows_per_pass,
        "input_bytes_per_pass": bytes_per_pass,
        "bytes_written": written, "failures": failures,
        "check_failures": check_failures, **check_info,
    }

    if traced:
        metrics = _layer_metrics(args, work_root, tracer, ctx, eventlog_dir,
                                 passes, run_s, session_s, gc_s,
                                 blocks_end, slots)
    else:
        metrics = {
            "setup_s": (setup_s / setup_factor, "s"),
            "run_s": (run_s, "s"),
            "rows_per_s": (rows_per_pass / run_s, "1/s"),
            "op_p50_s": (statistics.median(op_walls), "s"),
            "op_tail_s": (tail_s, "s"),
            "peak_rss_mb": (peak_rss / MB, "MB"),
            "write_amp": (bytes_written / (bytes_per_pass * len(passes)),
                          "ratio"),
        }
        _remember_untraced(work_root, args, run_s)

    for name, (value, unit) in metrics.items():
        note = ""
        if name == "op_tail_s":
            note = f"  (p{tail_pct} of {tail_n} ops)"
        print(f"{name:42s} {value:14.4f} {unit}{note}")
    verdict = "ok" if failed == 0 else f"FAILED ({failed})"
    print(f"output check: {verdict}; "
          f"checked {len(check_info.get('checked', [])) or 'gold'}")
    print("details " + json.dumps(details, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


def _remember_untraced(work_root: str, args, run_s: float) -> None:
    path = os.path.join(work_root, "untraced_run_s.jsonl")
    with open(path, "a") as fh:
        fh.write(json.dumps({"code": code_version(),
                             "workload": args.workload, "seed": args.seed,
                             "run_s": run_s}) + "\n")


def _untraced_run_s(work_root: str, args) -> tuple[float, str] | None:
    """The untraced ``run_s`` of the same code and workload: the median
    over runs of this seed, else over runs of any seed; None when this
    code has no untraced run of the workload in this checkout."""
    path = os.path.join(work_root, "untraced_run_s.jsonl")
    if not os.path.exists(path):
        return None
    version = code_version()
    with open(path) as fh:
        rows = [json.loads(x) for x in fh if x.strip()]
    rows = [r for r in rows
            if r.get("code") == version and r["workload"] == args.workload]
    same = [r["run_s"] for r in rows if r["seed"] == args.seed]
    if same:
        return statistics.median(same), f"{len(same)} run(s) of this seed"
    if rows:
        return (statistics.median(r["run_s"] for r in rows),
                f"{len(rows)} run(s) of other seeds")
    return None


def _layer_metrics(args, work_root, tracer, ctx, eventlog_dir, passes,
                   run_s, session_s, gc_s, blocks_end, slots) -> dict:
    logs = [os.path.join(eventlog_dir, f) for f in os.listdir(eventlog_dir)]
    per_span = {}
    for path in logs:
        per_span.update(tr.read_event_log(path, tracer.spans))
    table = tr.layer_table(tracer.spans, per_span, slots)
    out_dir = workloads.work_path(work_root, "traces")
    stem = os.path.join(out_dir, f"{args.workload}-{args.seed}")
    tracer.dump(f"{stem}.spans.jsonl")
    with open(f"{stem}.layers.json", "w") as fh:
        json.dump(table, fh, indent=1)
    for path in logs:
        os.remove(path)

    metrics = {"session.start_s": (session_s, "s")}
    for name, unit in tr.layer_metric_names():
        layer, metric = name.rsplit(".", 1)
        metrics[name] = (float(table.get(layer, {}).get(metric, 0.0)), unit)
    metrics["operators.plancut.blocks_held"] = (float(ctx.blocks_held),
                                                "count")
    metrics["operators.plancut.blocks_mb"] = (ctx.blocks_mb, "MB")
    metrics["operators.plancut.blocks_end"] = (float(blocks_end), "count")
    metrics["jvm.gc_s"] = (gc_s, "s")
    baseline = _untraced_run_s(work_root, args)
    if baseline is None:
        print("trace.overhead_s: left out, no untraced run of this code "
              "and workload in this checkout yet")
    else:
        print(f"trace.overhead_s: untraced baseline from {baseline[1]}")
        metrics["trace.overhead_s"] = (run_s - baseline[0], "s")
    covered = sum(o.duration for o in ctx.ops + ctx.probes)
    metrics["trace.span_coverage"] = (
        covered / sum(p.duration for p in passes), "ratio"
    )
    kids = tr.children(tracer.spans)
    metrics["trace.op_self_s"] = (
        sum(tr.self_time(o, kids.get(o.id, [])) for o in ctx.ops), "s"
    )
    return metrics


if __name__ == "__main__":
    sys.exit(main())
