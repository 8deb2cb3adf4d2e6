"""p6_spark benchmark: one seeded, single-client, closed-loop workload on
local[nproc].

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md): ``iterative`` runs a registered query
on sf0.1 tables generated from the seed; ``clinical`` runs seeded .xlsx
workbooks through the parse-excel call sequence.

A run generates its inputs, sets up (session, registry import, cold
source load, untimed warm passes whose results are checked against
the oracle or the generator), then runs operations for ``--seconds``
(whole passes: one query, or one workbook), then checks every output. With
``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics from spans and the Spark
status store. Every run also prints its run record and writes it, with
the spans, under ``perfbench/_runs/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[0] = REPO  # import the benchmark as the ``perfbench`` package

WORKLOADS = ("iterative", "clinical")


def process_start_wall() -> float:
    """Wall-clock time this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def driver_memory() -> str:
    """2g (1g below 8 GB of RAM): room for sf0.1, small enough for a shared
    box."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return "2g" if total_kb >= 8 * 1024 * 1024 else "1g"


def jvm_gc_seconds(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def release_blocks(spark) -> tuple[int, int]:
    """Count what the last operation left in the block store, then free it
    (clearCache plus unpersist, as bench.py does)."""
    jsc = spark.sparkContext._jsc
    rdds = jsc.getPersistentRDDs()
    left = len(rdds)
    stored = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo())
    spark.catalog.clearCache()
    for rdd in rdds.values():
        rdd.unpersist(False)
    return left, stored


def build_workload(name: str, seed: int, work: str):
    from perfbench import workloads as w

    if name == "iterative":
        # after one pagerank run the JIT is still compiling: the next run
        # took ~25% longer than the ones after it. Two more warm runs added
        # 8-14 s of set-up and did not narrow the spread between seeds.
        return w.QueryWorkload(w.ITERATIVE, seed, work, warm_passes=2)
    return w.ClinicalWorkload(seed, work)


class Run:
    """One benchmark run: set-up, warm passes, timed operations, checks."""

    def __init__(self, args, work: str):
        from perfbench.spans import Tracer

        self.work = work
        self.wl = build_workload(args.workload, args.seed, work)
        self.tracer = Tracer(enabled=bool(args.trace))
        self.spark = None
        self.ops: list[dict] = []  # one entry per operation, warm ones first
        self.problems: list[str] = []

    # -- phases --------------------------------------------------------

    def setup(self) -> None:
        from p6_spark.session import get_spark

        tr = self.tracer
        with tr.span("get_spark", "session"):
            self.spark = get_spark(
                "perfbench",
                cpus=os.cpu_count(),
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    # keep the JVM's temp and perf-data files out of the system
                    # temp dir; commit the whole heap at start, since a heap G1
                    # grew as it chose put the JVM's peak RSS anywhere from
                    # 1.25 to 2.0 GB for the same work
                    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData"
                    f" -Xms{os.environ['P6_SPARK_DRIVER_MEM']}",
                },
            )
        tr.bind(self.spark)
        with tr.span("import registry", "plans"):
            from p6_spark.plans import get_queries

            get_queries()
        self.wl.setup(self.spark, tr)

    def op(self, key, timed: bool, pass_no: int) -> None:
        op_id = len(self.ops)
        gc0 = jvm_gc_seconds(self.spark)
        t0 = time.perf_counter()
        try:
            out, err = self.wl.run_op(self.spark, self.tracer, key, op_id), None
        except Exception:
            out, err = None, traceback.format_exc(limit=3)
        latency = time.perf_counter() - t0
        rec = {"op": op_id, "key": key, "timed": timed, "pass": pass_no,
               "latency_s": latency, "out": out, "error": err}
        rec["gc_s"] = jvm_gc_seconds(self.spark) - gc0
        rec["rdds_left"], rec["storage_bytes_left"] = release_blocks(self.spark)
        self.tracer.resolve()
        self.ops.append(rec)

    def warm(self) -> None:
        for keys in self.wl.warm_passes():
            for key in keys:
                self.op(key, timed=False, pass_no=0)

    def timed(self, seconds: float) -> float:
        """Whole passes until ``seconds`` have passed, so every run samples
        the full query mix."""
        t0 = time.perf_counter()
        pass_no = 1
        while True:
            for key in self.wl.timed_pass(pass_no):
                self.op(key, timed=True, pass_no=pass_no)
            pass_no += 1
            if time.perf_counter() - t0 >= seconds:
                return time.perf_counter() - t0

    def check(self) -> int:
        failed = 0
        for rec in self.ops:
            probs = [rec["error"]] if rec["error"] else None
            if probs is None:
                try:
                    probs = self.wl.check(self.spark, rec["key"], rec["out"])
                except Exception:
                    probs = [traceback.format_exc(limit=3)]
            rec["ok"] = not probs
            if probs:
                failed += 1
                self.problems += probs
        return failed

    def stop(self) -> None:
        """Stop the session, then wait for the driver JVM and the processes
        it started (Python workers) to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        children = descendants(proc.pid) if proc is not None else []
        gw.shutdown()
        if proc is None:
            return
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        while children and time.monotonic() < deadline:
            children = [p for p in children if os.path.exists(f"/proc/{p}")]
            time.sleep(0.05)
        for p in children:
            os.kill(p, signal.SIGKILL)


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``, from /proc."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for task in glob.glob(f"/proc/{p}/task/*/children"):
            try:
                with open(task) as f:
                    kids = [int(k) for k in f.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def key_name(key) -> str:
    return key if isinstance(key, str) else os.path.basename(key.path)


def end_to_end(run: Run, setup_s: float, timed_wall: float, peak_rss_mb: float) -> tuple[dict, dict]:
    from perfbench.summary import latency_summary

    lat = [r["latency_s"] for r in run.ops if r["timed"]]
    summ = latency_summary(lat)
    metrics = {
        "setup_s": setup_s,
        "ops_per_s": len(lat) / timed_wall,
        "latency_p50_s": summ["p50_s"],
        "latency_p90_s": summ["p90_s"],
        "peak_rss_mb": peak_rss_mb,
    }
    return metrics, summ


def with_units(values: dict, kind: str) -> dict:
    """``{name: {"value", "unit"}}`` with the units BENCHMARK.json declares;
    the names must be exactly the declared ones."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)[kind]}
    if set(values) != set(units):
        raise RuntimeError(f"{kind} metrics differ from BENCHMARK.json: "
                           f"{sorted(set(values) ^ set(units))}")
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


# the spans whose Spark actions produce an operation's result
RESULT_SPANS = {"DataFrame.collect", "write_packet_files", "MappingResult.stats", "audit.collect"}


def _total(spans, value, name=None, layer=None) -> float:
    return sum(value(s) for s in spans
               if (name is None or s.name == name) and (layer is None or s.layer == layer))


def _seconds(s) -> float:
    return s.seconds


def _jobs(s) -> int:
    return len(s.jobs)


def pass_metrics(spans, ops: list[dict]) -> dict:
    """Per-layer totals of one pass from its layer spans and operations."""
    op_s = sum(r["latency_s"] for r in ops)
    build_s = _total(spans, _seconds, name="Query.build")

    def work(key):
        return _total(spans, lambda s: s.work.get(key, 0))

    valid = rows = 0
    for r in ops:
        if r["out"] is not None and not isinstance(r["key"], str):  # a workbook
            valid += sum(v for k, v in r["out"]["stats"].items() if k != "n_patients")
            rows += r["key"].expected.input_rows
    return {
        "plans.build_s": build_s,
        "plans.build_jobs": _total(spans, _jobs, name="Query.build"),
        "plans.build_stages": _total(spans, lambda s: s.stages, name="Query.build"),
        "plans.build_share": build_s / op_s,
        "session.collect_s": _total([s for s in spans if s.name in RESULT_SPANS], _seconds),
        "session.jobs": _total(spans, _jobs),
        "session.stages": _total(spans, lambda s: s.stages),
        "session.tasks": work("tasks"),
        "session.failed_tasks": work("failed_tasks"),
        "session.executor_run_s": work("executor_run_ms") / 1000.0,
        "session.shuffle_read_bytes": work("shuffle_read_bytes"),
        "session.shuffle_write_bytes": work("shuffle_write_bytes"),
        "session.spill_bytes": work("spill_bytes"),
        "session.peak_exec_mem_bytes": max((s.work.get("peak_exec_mem_bytes", 0) for s in spans), default=0),
        "session.gc_s": sum(r["gc_s"] for r in ops),
        "operators.rdds_left": sum(r["rdds_left"] for r in ops),
        "operators.storage_bytes_left": sum(r["storage_bytes_left"] for r in ops),
        "loader.load_workbook_s": _total(spans, _seconds, layer="loader"),
        "loader.jobs": _total(spans, _jobs, layer="loader"),
        "mapper.apply_mapping_s": _total(spans, _seconds, name="apply_mapping"),
        "mapper.stats_s": _total(spans, _seconds, name="MappingResult.stats"),
        "mapper.stats_jobs": _total(spans, _jobs, name="MappingResult.stats"),
        "mapper.valid_frac": valid / rows if rows else 0.0,
        "packet.write_s": _total(spans, _seconds, layer="packet"),
        "packet.write_jobs": _total(spans, _jobs, layer="packet"),
        "audit.collect_s": _total(spans, _seconds, layer="audit"),
        "audit.collect_jobs": _total(spans, _jobs, layer="audit"),
    }


def per_layer(run: Run) -> dict:
    """Set-up spans, then per-pass totals (median over timed passes) and
    per-query median latencies."""
    from perfbench import workloads as w

    spans = run.tracer.spans
    setup = {s.name: s.seconds for s in spans if s.op is None}
    layer_spans: dict[int, list] = {}
    for s in spans:
        if s.op is not None and s.layer != "bench":
            layer_spans.setdefault(s.op, []).append(s)
    timed = [r for r in run.ops if r["timed"]]
    passes: dict[int, list[dict]] = {}
    for r in timed:
        passes.setdefault(r["pass"], []).append(r)
    per_pass = [
        pass_metrics([s for r in ops for s in layer_spans.get(r["op"], [])], ops)
        for ops in passes.values()
    ]
    out = {
        "session.start_s": setup["get_spark"],
        "plans.registry_import_s": setup["import registry"],
        "sources.load_tables_s": setup.get("load_tables", setup.get("ontology_from_records")),
    }
    for k in per_pass[0]:
        out[k] = statistics.median(p[k] for p in per_pass)
    for q in w.ITERATIVE:
        lat = [r["latency_s"] for r in timed if r["key"] == q]
        out[f"plans.op_s.{q}"] = statistics.median(lat) if lat else 0.0
    return out


def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work``; size the Spark driver."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the launcher JVM spark-submit starts first: no perf-data file in the
    # system temp dir
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.setdefault("P6_SPARK_DRIVER_MEM", driver_memory())
    os.environ.pop("P6_SPARK_ENRICH_GENE_XREFS", None)


def execute(run: Run, seconds: float, t_start: float) -> dict:
    """Generate, set up, warm, time, check; always stop the session."""
    from pyspark import SparkContext

    phases = {}
    try:
        t = time.time()
        run.wl.generate()
        phases["input_generation_s"] = time.time() - t
        run.setup()
        run.warm()
        run.spark._jvm.System.gc()  # start the timed region from a collected heap
        phases["setup_s"] = time.time() - t_start - phases["input_generation_s"]
        phases["timed_wall_s"] = run.timed(seconds)
        phases["peak_rss_split_mb"] = {
            "jvm": vm_hwm_kb(SparkContext._gateway.proc.pid) / 1024.0,
            "python": vm_hwm_kb("self") / 1024.0,
        }
        t = time.time()
        phases["failed"] = run.check()
        phases["per_layer"] = per_layer(run) if run.tracer.enabled else None
        phases["check_s"] = time.time() - t
    finally:
        t = time.time()
        run.stop()
        shutil.rmtree(run.work, ignore_errors=True)
        phases["stop_s"] = time.time() - t
    return phases


def run_record(args, run: Run, phases: dict, e2e: dict, lat_summary: dict, load_before) -> dict:
    import pyspark

    attempted = len(run.ops)
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "master": f"local[{os.cpu_count()}]",
        "driver_memory": os.environ["P6_SPARK_DRIVER_MEM"],
        "loadavg_before": load_before,
        "loadavg_after": os.getloadavg(),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        **{k: v for k, v in phases.items() if k not in ("failed", "per_layer")},
        "latency": lat_summary,
        "attempted": attempted,
        "failed": phases["failed"],
        "failed_frac": phases["failed"] / attempted,
        "problems": run.problems[:20],
        "end_to_end": e2e,
        "ops": [{"op": r["op"], "key": key_name(r["key"]), "timed": r["timed"], "pass": r["pass"],
                 "latency_s": r["latency_s"], "ok": r["ok"]} for r in run.ops],
    }


def add_tracing_overhead(record: dict, runs_dir: str) -> None:
    """traced / untraced - 1 per end-to-end metric, once both runs of this
    workload and seed are on disk."""
    other = os.path.join(runs_dir, f"{record['workload']}-seed{record['seed']}-trace{1 - record['trace']}.json")
    if not os.path.exists(other):
        return
    with open(other) as f:
        o = json.load(f)["end_to_end"]
    traced, plain = (record["end_to_end"], o) if record["trace"] else (o, record["end_to_end"])
    record["tracing_overhead"] = {k: traced[k] / plain[k] - 1.0 for k in plain if plain[k]}


def main(argv=None) -> int:
    t_start = process_start_wall()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("p6_spark", "scripts/gen_testdata.py", "tests/oracle_utils.py")
               if not os.path.exists(os.path.join(REPO, p))]
    if missing:
        print(f"perfbench: not a p6_spark checkout (missing {', '.join(missing)})", file=sys.stderr)
        return 2

    work = os.path.join(REPO, "perfbench", "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    runs_dir = os.path.join(REPO, "perfbench", "_runs")
    os.makedirs(runs_dir, exist_ok=True)
    prepare_env(work)
    load_before = os.getloadavg()

    run = Run(args, work)
    phases = execute(run, args.seconds, t_start)
    e2e, lat_summary = end_to_end(run, phases["setup_s"], phases["timed_wall_s"],
                                  sum(phases["peak_rss_split_mb"].values()))
    record = run_record(args, run, phases, e2e, lat_summary, load_before)
    if args.trace:
        record["per_layer"] = phases["per_layer"]
        record["spans"] = run.tracer.records()
    add_tracing_overhead(record, runs_dir)
    with open(os.path.join(runs_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    failed, attempted = record["failed"], record["attempted"]
    e2e_metrics = with_units(e2e, "end_to_end")
    metrics = with_units(record["per_layer"], "per_layer") if args.trace else e2e_metrics
    for name, m in e2e_metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print(f"failed_frac = {failed / attempted:.6g} ({failed} of {attempted} operations)")
    print(f"latency samples = {lat_summary['samples']} ({lat_summary['beyond_p90']} beyond p90)")
    print(f"correct = {failed == 0}")
    for p in run.problems[:20]:
        print(f"problem: {p}")
    summary = {k: v for k, v in record.items() if k not in ("ops", "spans", "per_layer")}
    print(json.dumps({"run_record": summary}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
