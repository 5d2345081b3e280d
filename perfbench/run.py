"""Benchmark of py_schemax_spark, driven through its CLI entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

One closed-loop client: a single process runs one operation at a time on
``local[nproc]``. Inputs are generated from ``--seed`` before any timing.
``--trace 0`` measures the end-to-end metrics; ``--trace 1`` is a
separate run that records spans around the program's public functions
and reports per-layer metrics. Every operation's output is checked by
an independent DuckDB oracle. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def host_facts() -> dict:
    meminfo = Path("/proc/meminfo").read_text()
    kb = int(next(ln.split()[1] for ln in meminfo.splitlines()
                  if ln.startswith("MemTotal:")))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": kb // 1024,
        "python": platform.python_version(),
    }


def fit_host(host: dict, work: Path) -> None:
    """Size Spark to the host through the env vars the program reads."""
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    # local mode runs every task in the driver JVM; a sixteenth of RAM
    # holds these inputs and leaves the host to the Python workers
    os.environ["SPARK_DRIVER_MEM"] = f"{host['mem_total_mb'] // 16}m"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # temp files of the JVM, the Python workers and DuckDB stay in the run
    (work / "tmp").mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    # Python workers import the package from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep)
    os.environ["PYSPARK_PYTHON"] = sys.executable


class Session:
    """A SparkSession in its own JVM; ``stop`` ends the JVM and waits."""

    def __init__(self) -> None:
        from py_schemax_spark.session import get_spark
        from pyspark import SparkContext

        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # the whole heap is committed and touched at start, so
                # the JVM's resident set does not depend on when G1
                # chose to grow the heap; peak_rss_mb then moves with
                # off-heap memory and the Python side
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                    f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch",
            },
        )
        self.start_s = time.perf_counter() - t0
        self.proc = SparkContext._gateway.proc
        self.java = self.spark._jvm.System.getProperty("java.version")

    def peak_rss_kb(self) -> int:
        return _vm_hwm_kb(self.proc.pid)

    def stop(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
        # the JVM exits when its stdin closes
        self.proc.stdin.close()
        self.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def cpu_steal_s() -> float:
    """Seconds of CPU the hypervisor gave to other guests (all CPUs)."""
    fields = Path("/proc/stat").read_text().split("\n", 1)[0].split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int | str) -> int:
    for ln in Path(f"/proc/{pid}/status").read_text().splitlines():
        if ln.startswith("VmHWM:"):
            return int(ln.split()[1])
    return 0


class Ops:
    """Runs operations, times them, collects their counters and failures."""

    def __init__(self, workload) -> None:
        self.w = workload
        self.records: list[dict] = []

    def run(self, session: Session, tag: str, kind: str, fn=None,
            checked: bool = True) -> dict:
        from tracing import group_counters

        sc = session.spark.sparkContext
        sc.setJobGroup(tag, kind)
        rec = {"tag": tag, "kind": kind, "errors": [], "info": None,
               "checked": checked}
        t0 = time.perf_counter()
        try:
            if fn is None:
                rec["errors"] = self.w.op(session.spark, tag)
            else:
                rec["errors"], rec["info"] = fn(session.spark, tag)
        except Exception:  # a raising op is a failed op; keep measuring
            rec["errors"] = [traceback.format_exc(limit=3)]
        rec["wall_s"] = time.perf_counter() - t0
        sc.setJobGroup("", "")
        rec["counters"] = group_counters(session.spark, tag)
        self.records.append(rec)
        return rec

    def check_all(self) -> None:
        for rec in self.records:
            if rec["errors"] or not rec["checked"]:
                continue
            try:
                rec["errors"] = self.w.check(rec["tag"])
            except Exception:
                rec["errors"] = [traceback.format_exc(limit=3)]

    @property
    def failed(self) -> int:
        return sum(1 for r in self.records if r["errors"])


def start_measuring_session(w, notes: dict) -> Session:
    """Inputs first, then the fresh session the operations run in."""
    t0 = time.perf_counter()
    w.generate()
    notes["inputs_s"] = time.perf_counter() - t0
    s = Session()
    notes["java"] = s.java
    return s


def warm_ops(w, seconds: float) -> int:
    """Measured warm operations in a run: a count fixed by ``--seconds``
    and the workload's nominal op time, taken after the workload's
    warm-up ops, so every run takes its median over the same place on
    the JIT warm-up curve."""
    return max(w.min_ops, round(seconds / w.nominal_op_s))


def warm_up(ops: "Ops", s: Session, w) -> None:
    """Untimed ops past the steep start of the JIT warm-up curve; they
    are checked like every other op."""
    for i in range(w.warmup_ops):
        ops.run(s, f"warmup{i}", "warmup")


def timed_run(w, seconds: float) -> tuple[dict, Ops, dict]:
    ops = Ops(w)
    notes: dict = {}
    s = start_measuring_session(w, notes)
    try:
        cold = ops.run(s, "cold", "cold")
        setup_s = s.start_s + cold["wall_s"]
        warm_up(ops, s, w)
        steal0 = cpu_steal_s()
        warm = [ops.run(s, f"warm{i}", "warm") for i in range(warm_ops(w, seconds))]
        notes["warm_steal_s"] = cpu_steal_s() - steal0
        jvm_kb, py_kb = s.peak_rss_kb(), _vm_hwm_kb("self")
        rss_kb = jvm_kb + py_kb
        notes.update(jvm_hwm_mb=jvm_kb / 1024, python_hwm_mb=py_kb / 1024)
        cores = int(os.environ["SPARK_GRAFT_CPUS"])
    finally:
        s.stop()
    ops.check_all()
    med_wall = statistics.median(r["wall_s"] for r in warm)
    task_s = statistics.median(r["counters"]["task_s"] for r in warm)
    metrics = {
        "docs_per_s": (w.rows / med_wall, "docs/s"),
        "setup_s": (setup_s, "s"),
        "task_s_per_kdoc": (task_s / (w.rows / 1000), "s"),
        "peak_rss_mb": (rss_kb / 1024, "MB"),
    }
    notes.update(warmup_ops=w.warmup_ops, warm_ops=len(warm), cores=cores,
                 busy_core_share=task_s / (med_wall * cores))
    return metrics, ops, notes


PER_LAYER_UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B", "spark.output_bytes": "B",
    "spark.spill_bytes": "B", "spark.busy_core_share": "ratio",
    "session.start_s": "s",
    "sources.scan_s": "s", "sources.scan_bytes": "B",
    "rows.s": "s", "rows.violations": "count", "rows.fused_s": "s",
    "extraction.s": "s", "extraction.python_bytes_sent": "B",
    "extraction.python_bytes_received": "B", "extraction.python_s": "s",
    "uniqueness.s": "s", "uniqueness.shuffle_bytes": "B",
    "referential.s": "s", "cardinality.s": "s",
    "drift.s": "s", "drift.python_bytes_sent": "B",
    "verdict.summary_s": "s", "verdict.driver_rows": "count",
    "runner.run_s": "s", "cli.validate_s": "s", "cli.sink_gap_s": "s",
    "sink.write_s": "s", "sink.bytes": "B", "sink.files": "count",
    **{f"curate.{st}_{k}": u
       for st in ("normalize", "redact", "quality", "lines", "exact_dedup",
                  "near_dedup", "mix")
       for k, u in (("s", "s"), ("rows_out", "count"))},
    "dedup.lsh_candidates": "count", "dedup.jaccard_pairs": "count",
    "dedup.verify_yield": "ratio", "dedup.shuffle_bytes": "B",
    "trace.span_coverage": "ratio", "trace.overhead": "ratio",
}


def traced_run(w, seconds: float, trace_path: Path) -> tuple[dict, Ops, dict]:
    from tracing import JobGroups, Tracer

    tracer = Tracer()
    ops = Ops(w)
    m = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    notes: dict = {}
    s = start_measuring_session(w, notes)
    try:
        m["session.start_s"] = s.start_s
        ops.run(s, "cold", "cold")
        warm_up(ops, s, w)
        # untraced and traced warm ops alternate, untraced at both ends:
        # each traced op is compared with the mean of its two untraced
        # neighbours, which cancels the warm-up trend between them
        untraced, traced = [ops.run(s, "untraced0", "warm")], []
        for i in range(max(1, warm_ops(w, seconds) // 2)):
            tracer.op = f"traced{i}"
            traced.append(ops.run(
                s, tracer.op, "traced",
                lambda spark, tag: w.traced_op(spark, tracer, tag)))
            untraced.append(ops.run(s, f"untraced{i + 1}", "warm"))
        if hasattr(w, "layers"):
            tracer.op = "layers"

            def layers(spark, tag):
                with tracer.span(tag):
                    m.update(w.layers(spark, tracer, JobGroups(spark, tag)))
                return [], None

            ops.run(s, "layers", "layers", layers, checked=False)
    finally:
        s.stop()
    ops.check_all()
    c = untraced[-1]["counters"]
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m.update({
        "spark.jobs": c["jobs"], "spark.stages": c["stages"],
        "spark.tasks": c["tasks"],
        "spark.shuffle_write_bytes": c["shuffle_write_bytes"],
        "spark.output_bytes": c["output_bytes"],
        "spark.spill_bytes": c["spill_bytes"],
        "spark.busy_core_share": c["task_s"] / (untraced[-1]["wall_s"] * cores),
    })
    last = traced[-1]
    info = last["info"] or {}
    if "cli_span" in info:
        cli = info["cli_span"]
        cli_s = tracer.duration(cli)
        m["trace.span_coverage"] = tracer.covered(cli) / cli_s
        m["trace.overhead"] = statistics.median(
            tracer.duration(t["info"]["cli_span"])
            / ((before["wall_s"] + after["wall_s"]) / 2)
            for before, t, after in zip(untraced, traced, untraced[1:])
            if t["info"]
        ) - 1
        m["sink.write_s"] = sum(
            tracer.duration(c["id"]) for c in tracer.children(cli)
            if c["name"] == "sink.write")
        w.layer_metrics_from_op(m, tracer, info, last["tag"], cli_s)
    trace_path.parent.mkdir(parents=True, exist_ok=True)
    tracer.dump(str(trace_path))
    metrics = {k: (v, PER_LAYER_UNITS[k]) for k, v in m.items()}
    notes.update(traced_ops=len(traced), cores=cores)
    return metrics, ops, notes


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="override the workload's input size (self-test)")
    args = ap.parse_args(argv)

    if not (ROOT / "py_schemax_spark" / "__init__.py").is_file():
        print(f"error: no py_schemax_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(BENCH)]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    host = host_facts()
    state = ROOT / ".perfbench"
    work = state / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    fit_host(host, work)
    w = WORKLOADS[args.workload](work, args.seed, args.rows)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    try:
        if args.trace:
            metrics, ops, notes = traced_run(
                w, args.seconds, state / "traces" / f"{stem}.json")
        else:
            metrics, ops, notes = timed_run(w, args.seconds)
        sizes = w.sizes()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    import pyspark

    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds,
        "host": {**host, "pyspark": pyspark.__version__,
                 "java": notes.pop("java"),
                 "spark_driver_mem": os.environ["SPARK_DRIVER_MEM"]},
        "sizes": sizes, **notes,
        "ops": [{k: r[k] for k in ("tag", "kind", "wall_s", "counters", "errors")}
                for r in ops.records],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    (state / "results").mkdir(parents=True, exist_ok=True)
    (state / "results" / f"{stem}.json").write_text(
        json.dumps(record, indent=1, default=str))
    for r in ops.records:
        for e in r["errors"]:
            print(f"FAILED {r['tag']}: {e}", file=sys.stderr)
    print(f"# {args.workload} host={json.dumps(record['host'])} "
          f"sizes={json.dumps(sizes)} notes={json.dumps(notes)}")
    attempted = len(ops.records)
    print(f"{args.workload} fail_ratio {ops.failed / attempted:.4f} ratio "
          f"({ops.failed} of {attempted} ops)")
    for k, (v, u) in metrics.items():
        print(f"{args.workload} {k} {v:.6g} {u}")
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": attempted,
        "failed": ops.failed,
        "metrics": record["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
