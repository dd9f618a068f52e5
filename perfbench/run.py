"""Closed-loop benchmark of the lakehouse package.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload {adhoc_sql,medallion_commits,curation_batch}
        --seed N --seconds S --trace {0,1}

One client drives the package from outside in a closed loop (the next op
starts when the previous one returns) on Spark ``local[nproc]``, in this
single driver process. A run:

1. generates the workload's inputs from ``--seed`` in a child process
   (``gen.py``), outside every measurement;
2. imports the package, boots the session and runs an untimed warm-up pass:
   this is ``setup_s``;
3. runs ops for ``--seconds`` seconds, and at least one whole round (a
   round runs every query once, or one block of commits and its maintenance
   op); the window metrics take each kind of op at its median over the
   window, in the proportions of one round;
4. checks the outputs and prints a report line, then the result line.

With ``--trace 1`` a span recorder times each call into the package's
layers and the result carries the per-layer metrics; the report line of a
traced run still carries its end-to-end figures, so the tracing overhead is
the difference from an untraced run on the same seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "mongo_iceberg_lakehouse_spark"
WORKLOADS = ["adhoc_sql", "medallion_commits", "curation_batch"]
OUT_DIR = ROOT / ".perfbench"
# units of the report's end-to-end metrics (BENCHMARK.json names the gated ones)
UNITS = {
    "setup_s": "s", "throughput_ops_s": "1/s", "op_p50_s": "s", "op_tail_s": "s",
    "op_tail_percentile": "%", "op_tail_samples_beyond": "count",
    "cpu_s_per_op": "s", "rss_peak_mb": "MB", "error_rate": "ratio",
    "store_bytes_per_input_byte": "ratio",
}

sys.path.insert(0, str(HERE))
import host  # noqa: E402
import spans  # noqa: E402
from workloads import (  # noqa: E402
    MedallionWorkload,
    QueryWorkload,
    dir_bytes,
    manifest_files,
)


def hd_quantile(xs: list[float], q: float, steps: int = 10_000) -> float:
    """Harrell-Davis estimate of the ``q``-quantile: the mean of all sorted
    samples, the i-th weighted by the Beta((n+1)q, (n+1)(1-q)) mass over
    [(i-1)/n, i/n] (integrated on a midpoint grid). A window holds a fixed
    mix of ops of unequal cost, and the plain order statistic jumps between
    whichever two ops trade places at the quantile; this estimate moves
    smoothly."""
    xs = sorted(xs)
    n = len(xs)
    if n == 1:
        return xs[0]
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    w = [0.0] * n
    for k in range(steps):
        u = (k + 0.5) / steps
        w[k * n // steps] += u ** (a - 1) * (1 - u) ** (b - 1)
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def typical_round(kinds: list[str], values: list[float],
                  nominal: list[str]) -> list[float]:
    """One round of ops as the window saw it typically: each op of the
    nominal round carries the median, over the window, of its kind's values.
    A slow spell that hits a minority of a kind's ops does not move it, and
    the round's mix is the same whatever the window's length or seeded
    order."""
    by_kind: dict[str, list[float]] = {}
    for k, v in zip(kinds, values):
        by_kind.setdefault(k, []).append(v)
    return [statistics.median(by_kind[k]) for k in nominal]


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile with at least ten samples beyond
    it; with fewer than 44 samples, a quarter of them (at least one) stand
    beyond it. Returns (Harrell-Davis value, percentile, samples beyond)."""
    n = len(latencies)
    beyond = min(10, max(1, n // 4)) if n > 1 else 0
    q = (n - beyond) / n
    return hd_quantile(latencies, q), 100.0 * q, beyond


def job_stats(sc, lo: int, hi: int) -> dict:
    """Jobs, stages and tasks that ran, and shuffle bytes written, for Spark
    job ids in [lo, hi), from the status store (the UI is off)."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stages: set[int] = set()
    out = {"jobs": hi - lo, "stages": 0, "tasks": 0, "shuffle_bytes": 0}
    for j in range(lo, hi):
        out["tasks"] += store.job(j).numCompletedTasks()
        info = tracker.getJobInfo(j)
        stages.update(info.stageIds if info else [])
    for s in stages:
        data = store.lastStageAttempt(s)
        if data.status().toString() == "COMPLETE":
            out["stages"] += 1
            out["shuffle_bytes"] += data.shuffleWriteBytes()
    return out


def first_job_submitted(sc, lo: int) -> float:
    """Wall-clock submission time of Spark job ``lo``, in seconds."""
    return sc._jsc.sc().statusStore().job(lo).submissionTime().get().getTime() / 1000.0


def gc_s(sc) -> float:
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


class Run:
    def __init__(self, args, work: Path) -> None:
        self.args = args
        self.work = work
        self.tracer = spans.Tracer() if args.trace else spans.NoTrace()
        self.spark = None

    def configure_host(self) -> dict:
        cpus = host.cpus()
        heap = host.driver_heap_mb()
        local = self.work / "spark-local"
        tmp = self.work / "tmp"
        local.mkdir(parents=True)
        tmp.mkdir()
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap}m",
            "SPARK_LOCAL_DIRS": str(local),
            "TMPDIR": str(tmp),
            # Python workers import the package by name
            "PYTHONPATH": os.pathsep.join(
                [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]),
        })
        return {"cpus": cpus, "heap_mb": heap}

    def measure(self, inputs: dict) -> dict:
        args, tr = self.args, self.tracer
        calib0 = host.calib_s()
        t0 = time.perf_counter()
        sys.path.insert(0, str(ROOT))
        import pyspark
        from bench import _drop_checkpoint_blocks, _rss_peak_mb

        from mongo_iceberg_lakehouse_spark.session import get_spark

        if tr.enabled:
            spans.install_operator_spans(tr, PACKAGE)
        with tr.span("session.boot"):
            self.spark = spark = get_spark(
                app_name=f"perfbench-{args.workload}",
                warehouse_dir=str(self.work / "warehouse"),
                extra_confs={
                    "spark.driver.extraJavaOptions":
                        f"-XX:-UsePerfData -Djava.io.tmpdir={self.work / 'tmp'}",
                },
            )
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        if tr.enabled:
            tr.next_job_id = sc._jsc.sc().dagScheduler().nextJobId
        if args.workload == "medallion_commits":
            wl = MedallionWorkload(spark, inputs, tr, str(self.work / "store"))
        else:
            from mongo_iceberg_lakehouse_spark.queries import REGISTRY

            wl = QueryWorkload(spark, inputs, tr, REGISTRY)
        wl.warm_up()

        pid = os.getpid()
        lat: list[float] = []
        cpu: list[float] = []  # CPU seconds of the process tree per op
        failed: set[int] = set()
        first_round: list[dict] = []
        actions: list[tuple[float, float]] = []  # (plan_s, exec_s) per action
        cpu0, gc0 = host.tree_cpu_s(pid), gc_s(sc)
        steal0, stall0 = host.steal_ticks(), host.stall_us()
        t_start = time.perf_counter()
        setup_s = t_start - t0
        i = 0
        # The window holds at least one whole round, so every kind of op is
        # sampled; the metrics weigh the kinds by their share of a round,
        # so the window may end mid-round, also when the generated inputs
        # run out.
        while i < wl.round or (time.perf_counter() - t_start < args.seconds
                               and i < wl.n_ops()):
            if i >= wl.n_ops():
                raise RuntimeError(f"generated inputs ran out after {i} ops")
            tr.op = i
            first_span = len(tr.spans) if tr.enabled else 0
            job_lo = tr.next_job_id() if tr.enabled else 0
            c = host.tree_cpu_s(pid)
            a = time.perf_counter()
            try:
                wl.op(i)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed.add(i)
            lat.append(time.perf_counter() - a)
            cpu.append(host.tree_cpu_s(pid) - c)
            if i not in failed and not wl.op_ok(i):
                print(f"# op {i} ({wl.kind(i)}): wrong output", file=sys.stderr)
                failed.add(i)
            _drop_checkpoint_blocks(spark)
            if tr.enabled:
                self.trace_op(wl, i, first_span, job_lo, first_round, actions)
            i += 1
        t_end = time.perf_counter()
        window = t_end - t_start
        cpu1, gc1 = host.tree_cpu_s(pid), gc_s(sc)
        steal1, stall1 = host.steal_ticks(), host.stall_us()
        rss = _rss_peak_mb()
        n = len(lat)
        by_kind: dict[str, list[float]] = {}
        for k, x in enumerate(lat):
            by_kind.setdefault(wl.kind(k), []).append(x)

        c = time.perf_counter()
        bad = wl.check()
        check_s = time.perf_counter() - c
        for what, why in bad.items():
            print(f"# check failed: {what}: {why}", file=sys.stderr)
        failed |= wl.failed_ops(bad, n)
        calib1 = host.calib_s()
        kinds = [wl.kind(k) for k in range(n)]
        nominal = [wl.kind(k) for k in range(wl.round)]
        lat_round = typical_round(kinds, lat, nominal)
        cpu_round = typical_round(kinds, cpu, nominal)
        tail_s, tail_pct, tail_beyond = tail(lat_round)
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "seconds": args.seconds,
            "window_s": window,
            "check_s": check_s,
            "ops": n,
            "latency_by_kind": by_kind,
            "op_kinds": kinds,
            "op_latency_s": lat,
            "op_cpu_s": cpu,
            "window_ops_s": n / window,
            "window_cpu_s_per_op": (cpu1 - cpu0) / n,
            "host_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
            "host_stall_share": {
                k: (stall1[k] - stall0[k]) / 1e6 / window for k in stall0},
            "failed": len(failed),
            "checks_failed": bad,
            "pyspark": pyspark.__version__,
            "host_calib_s": [calib0, calib1],
            "metrics": {
                "setup_s": setup_s,
                "throughput_ops_s": len(lat_round) / sum(lat_round),
                "op_p50_s": hd_quantile(lat_round, 0.5),
                "op_tail_s": tail_s,
                "op_tail_percentile": tail_pct,
                "op_tail_samples_beyond": tail_beyond,
                "cpu_s_per_op": sum(cpu_round) / len(cpu_round),
                "rss_peak_mb": rss,
                "error_rate": len(failed) / n,
            },
        }
        if isinstance(wl, MedallionWorkload):
            store_bytes = dir_bytes(str(self.work / "store"))
            report["metrics"]["store_bytes_per_input_byte"] = (
                store_bytes / wl.input_bytes())
            report["wap_rejected_ratio"] = wl.rejected_ratio()
        report["units"] = {k: UNITS[k] for k in report["metrics"]}
        if tr.enabled:
            report["layers"] = layer_metrics(
                tr, wl, n, first_round, actions, (gc1 - gc0) / n,
                (calib0 + calib1) / 2, report["metrics"],
            )
        return report

    def trace_op(self, wl, i, first_span, job_lo, first_round, actions) -> None:
        """After op ``i`` of a traced run: split each action span into plan
        time (until its first Spark job was submitted) and execution time,
        and, in the first round, count the op's jobs, stages, tasks and
        shuffle bytes, and what it wrote to the snapshot store."""
        sc, tr = self.spark.sparkContext, self.tracer
        job_hi = tr.next_job_id()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        for s in tr.spans[first_span:]:
            if s["name"] == "spark.action":
                wall_end = s["wall"] + s["end"] - s["start"]
                sub = (first_job_submitted(sc, s["job_lo"])
                       if s["job_hi"] > s["job_lo"] else wall_end)
                actions.append((sub - s["wall"], wall_end - sub))
        if i < wl.round:
            first_round.append(job_stats(sc, job_lo, job_hi))
            if isinstance(wl, MedallionWorkload):
                first_round[-1].update(
                    manifest_files=manifest_files(wl.store),
                    bytes_written=wl.bytes_written(i),
                )

    def shutdown(self) -> None:
        """Stop the session, then the JVM and every process under this one,
        and wait until they have ended."""
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception:
                traceback.print_exc(file=sys.stderr)
        host.stop_processes(host.descendants(os.getpid()))


def layer_metrics(tr, wl, n, first_round, actions, gc_per_op, calib, e2e) -> dict:
    """Per-layer metrics of the traced run. ``*_s`` are self seconds per op
    over the timed window; counts are per op (or per commit) over the first
    round of the sequence (every query once, or one block of commits and its
    maintenance), so they repeat exactly for a seed."""
    own = tr.self_times()
    per_op: dict[str, float] = {}
    jobs: dict[str, int] = {}
    boot = 0.0
    r = len(first_round)
    for s, t in zip(tr.spans, own):
        name = s["name"]
        if name == "session.boot":
            boot = t
        if s["op"] is None:
            continue
        layer = name if not name.startswith("operators.") else name.rsplit(".", 1)[0]
        per_op[layer] = per_op.get(layer, 0.0) + t / n
        if s["op"] < r and "job_lo" in s:
            jobs[layer] = jobs.get(layer, 0) + s["job_hi"] - s["job_lo"]

    def mean(key):
        return sum(x[key] for x in first_round) / r if r else 0.0

    m = {
        "session.boot_s": boot,
        "queries.construct_s": per_op.get("queries.construct", 0.0),
        "queries.construct_jobs": jobs.get("queries.construct", 0) / r,
        "spark.plan_s": sum(p for p, _ in actions) / n,
        "spark.exec_s": sum(e for _, e in actions) / n,
        "spark.jobs_per_op": mean("jobs"),
        "spark.stages_per_op": mean("stages"),
        "spark.tasks_per_op": mean("tasks"),
        "spark.shuffle_bytes_per_op": mean("shuffle_bytes"),
        "medallion.bronze_s": per_op.get("medallion.bronze", 0.0),
        "medallion.silver_s": per_op.get("medallion.silver", 0.0),
        "medallion.gold_s": per_op.get("medallion.gold", 0.0),
        "snapshots.write_s": per_op.get("snapshots.write", 0.0),
        "snapshots.read_s": per_op.get("snapshots.read", 0.0),
        "wap.publish_s": per_op.get("wap.publish", 0.0),
        "maintenance.compact_s": per_op.get("maintenance.compact", 0.0),
        "maintenance.expire_s": per_op.get("maintenance.expire", 0.0),
        "jvm.gc_s": gc_per_op,
        "host.calib_s": calib,
    }
    for mod in spans.OPERATOR_MODULES:
        m[f"operators.{mod}.op_s"] = per_op.get(f"operators.{mod}", 0.0)
    medallion = isinstance(wl, MedallionWorkload)
    commits = sum(wl.kind(k) != "maintenance" for k in range(r)) if medallion else 0
    m["snapshots.jobs_per_commit"] = (
        (jobs.get("snapshots.write", 0) + jobs.get("snapshots.read", 0)) / commits
        if commits else 0.0)
    m["snapshots.bytes_written"] = (
        sum(x["bytes_written"] for x in first_round) / commits if commits else 0.0)
    m["snapshots.manifest_files"] = first_round[-1].get("manifest_files", 0)
    if medallion:
        m["wap.rejected_ratio"] = wl.rejected_ratio()
        # [0] is the warm-up's compaction, [1] the first round's
        m["maintenance.bytes_rewritten"] = wl.compacted[1]["bytes_after"]
        m["store_bytes_per_input_byte"] = e2e["store_bytes_per_input_byte"]
    else:
        m["wap.rejected_ratio"] = 0.0
        m["maintenance.bytes_rewritten"] = 0
        m["store_bytes_per_input_byte"] = 0.0
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    for need in (ROOT / PACKAGE / "__init__.py", ROOT / "tests" / "compare.py",
                 ROOT / "bench.py"):
        if not need.is_file():
            print(f"perfbench: {need} not found: run from a checkout of the "
                  "repository", file=sys.stderr)
            return 2
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = OUT_DIR / f"{args.workload}-seed{args.seed}-pid{os.getpid()}"
    run = Run(args, work)
    try:
        work.mkdir(parents=True)
        facts = run.configure_host()
        subprocess.run(
            [sys.executable, str(HERE / "gen.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--out", str(work / "inputs")],
            check=True, timeout=120,
        )
        inputs = json.loads((work / "inputs" / "inputs.json").read_text())
        report = run.measure(inputs)
    finally:
        run.shutdown()
        if args.trace:
            run.tracer.dump(str(OUT_DIR / f"trace-{args.workload}-seed{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    report.update(facts)
    print(json.dumps({"report": report}))
    if args.trace:
        specs, values = bench["per_layer"], report["layers"]
    else:
        specs, values = bench["end_to_end"], report["metrics"]
    print(json.dumps({
        "correct": report["failed"] == 0 and not report["checks_failed"],
        "attempted": report["ops"],
        "failed": report["failed"],
        "metrics": {
            s["name"]: {"value": values[s["name"]], "unit": s["unit"]}
            for s in specs
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
