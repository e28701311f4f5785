#!/usr/bin/env python3
"""The repository benchmark: seeded ETL and LLM-curation workloads,
end-to-end metrics (`--trace 0`) or per-layer metrics (`--trace 1`).

    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-check [--testdata DIR]

Run it from the repository root. One driver process on
`local[<nproc>]`, one client, closed loop: each object is uploaded and
advanced only after the previous one returned. Inputs are generated
from `--seed` (gen.py); the program only ever sees the generated files.
Everything the run writes goes under `.perfbench/` in the current
directory; the run directory is removed at exit, span files stay.

The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Earlier lines carry the environment block and a detail line with
metrics that do not belong to every workload. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# name: (kind, objects, records per object, stall share)
WORKLOADS = {
    "etl_bulk": ("etl", 4, 10000, 0.25),
    "llm_curation": ("curation", 2, 300, 0.0),
}
# Seconds a timed pass takes on a 4-vCPU VM: a warm pass on etl_bulk,
# the session's first curation call on llm_curation. A run makes
# round(--seconds / nominal) timed passes, at least one, so every run
# does the same work, and times the same passes after warm-up, however
# fast the host is at the time.
NOMINAL_PASS_S = {"etl_bulk": 5.5, "llm_curation": 45.0}
SMOKE_SIZES = {"etl_bulk": (4, 60), "llm_curation": (2, 120)}

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "rows_per_s": "rec/s",
    "pass_cpu_s": "s",
    "write_amp": "ratio",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "sources.upload_s": "s",
    "sources.input_records": "count",
    "sources.input_bytes": "bytes",
    "pipeline.advance_s": "s",
    "pipeline.extract_s": "s",
    "pipeline.transform_s": "s",
    "pipeline.load_s": "s",
    "pipeline.resume_s": "s",
    "pipeline.state_upsert_s": "s",
    "pipeline.state_upserts": "count",
    "pipeline.jobs_per_object": "count",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "pipeline.executor_run_s": "s",
    "pipeline.executor_cpu_s": "s",
    "pipeline.shuffle_write_bytes": "bytes",
    "pipeline.spill_bytes": "bytes",
    "pipeline.staged_bytes": "bytes",
    "models.build_s": "s",
    "models.rows_out_per_in": "ratio",
    "sinks.output_bytes": "bytes",
    "sinks.output_records": "count",
    "sinks.files_written": "count",
    "trace.overhead_s": "s",
    "trace.unattributed_s": "s",
    "trace.status_read_s": "s",
}
# Layer spans whose self time is reported per pass
SELF_TIMES = {
    "sources.upload_s": "sources.upload",
    "pipeline.advance_s": "pipeline.advance",
    "pipeline.extract_s": "pipeline.extract",
    "pipeline.transform_s": "pipeline.transform",
    "pipeline.load_s": "pipeline.load",
    "pipeline.resume_s": "pipeline.resume",
    "pipeline.state_upsert_s": "pipeline.state_upsert",
    "models.build_s": "models.build",
    "trace.unattributed_s": "pass",
    "trace.status_read_s": "trace.status_read",
}


def _isolate(run_dir: str) -> None:
    """Point every temporary and scratch location at the run directory
    before pyspark starts the JVM."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # every JVM, the spark-submit launcher's included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp


def _engine_config(run_dir: str):
    from flask_data_pipes_spark.session import EngineConfig

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    return EngineConfig(
        app_name="perfbench",
        master=f"local[{cores}]",
        data_dir=os.path.join(run_dir, "data"),
        extra_conf={
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            # a fixed-size heap, so peak RSS does not follow heap-resizing noise
            "spark.driver.extraJavaOptions": f"-Xms2g -Dderby.system.home={run_dir}",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds of a process and all its
    descendants, reaped children included, from /proc/<pid>/stat: the
    driver Python, its JVM and Spark's Python workers."""
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def _cpu_times() -> list[int]:
    """System-wide CPU jiffies from /proc/stat: user, nice, system,
    idle, iowait, irq, softirq, steal."""
    with open("/proc/stat", encoding="ascii") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return round(100.0 * d[7] / max(1, sum(d)), 2)


def _tail(values: list[float]) -> tuple:
    """Highest percentile with at least ten samples beyond it:
    (percentile, value, samples)."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return None, None, n
    k = n - 11  # index with ten samples above it
    return round(100.0 * (k + 1) / n, 1), xs[k], n


class Run:
    def __init__(self, args, run_dir: str, sizes: tuple | None) -> None:
        self.args = args
        self.run_dir = run_dir
        kind, objects, records, stall = WORKLOADS[args.workload]
        if sizes:
            objects, records = sizes
        self.kind = kind
        self.failures: list[str] = []
        self.attempted = 0
        self.spark = None
        self.config = _engine_config(run_dir)

        import gen

        t0 = time.perf_counter()
        in_dir = os.path.join(run_dir, "inputs")
        if kind == "etl":
            self.inputs = gen.etl_objects(in_dir, args.seed, objects, records, stall)
        else:
            self.inputs = gen.corpus_objects(in_dir, args.seed, objects, records)
        self.gen_s = time.perf_counter() - t0
        self._pass_no = 0

    # -- passes -----------------------------------------------------------
    def one_pass(self, inputs, tracer, label: str):
        import spans
        import workloads

        self._pass_no += 1
        pass_dir = os.path.join(self.run_dir, f"pass{self._pass_no:03d}")
        status = None
        if tracer.enabled:
            reader = self.status_reader

            def status():
                with tracer.span("trace.status_read"):
                    reader.charge(tracer, list(spans.iter_spans(tracer.roots)))

            tracer.pass_label = label
        c0 = _tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        with tracer.span("pass"):
            if self.kind == "etl":
                result = workloads.etl_pass(self.spark, inputs, pass_dir, "Event", tracer, status)
            else:
                result = workloads.curation_pass(self.spark, inputs, pass_dir, tracer, status)
        result.seconds = time.perf_counter() - t0
        result.cpu_seconds = _tree_cpu_s(os.getpid()) - c0
        return result

    def setup(self, trace: bool) -> tuple[float, float]:
        """Start the session (and the JVM), then warm up: a whole pass on
        etl_bulk; on llm_curation the corpus ingest only, so that
        the timed pass holds the session's first curation call, as a
        batch job's does. A traced run warms up with a whole pass on both,
        so that its traced and untraced passes are equally warm.
        Returns (session start, warm-up) seconds."""
        import workloads
        from flask_data_pipes_spark.session import get_spark
        from spans import NULL_TRACER

        t0 = time.perf_counter()
        self.spark = get_spark(self.config)
        start = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        t0 = time.perf_counter()
        if self.kind == "etl" or trace:
            warm = self.one_pass(self.inputs, NULL_TRACER, "warm")
        else:
            warm_dir = os.path.join(self.run_dir, "warm")
            warm = workloads.etl_pass(self.spark, self.inputs, warm_dir, "Document", NULL_TRACER)
        warm_s = time.perf_counter() - t0
        if warm.failures:
            raise RuntimeError(f"warm-up failed: {warm.failures}")
        return start, warm_s

    def measure(self, trace: bool):
        """The timed passes: `--seconds` over the workload's nominal
        pass time, at least one. With tracing, untraced and traced
        passes alternate."""
        from spans import NULL_TRACER, StatusReader, Tracer

        self.tracer = Tracer(self.args.workload) if trace else None
        if trace:
            self.status_reader = StatusReader(self.spark)
        plain, traced = [], []
        for i in range(max(1, round(self.args.seconds / NOMINAL_PASS_S[self.args.workload]))):
            plain.append(self.one_pass(self.inputs, NULL_TRACER, f"p{i}"))
            if trace:
                traced.append(self.one_pass(self.inputs, self.tracer, f"t{i}"))
        return plain, traced

    # -- checks -----------------------------------------------------------
    def check(self, results) -> None:
        import workloads

        model = "Event" if self.kind == "etl" else "Document"
        expected = workloads.reference_digest(self.spark, self.inputs, model)
        self.attempted += 1  # the model's row count against the generated records
        if expected[1] != self.inputs.rows_out:
            self.failures.append(
                f"Model.transform gives {expected[1]} rows, the generated records {self.inputs.rows_out}"
            )
        funnels = set()
        for r in results:
            self.attempted += r.attempted + 1  # the operations, plus the pass check
            self.failures.extend(r.failures)
            problems = workloads.check_etl_pass(self.spark, r, self.inputs, expected)
            if self.kind == "curation":
                problems += workloads.check_funnel(r.funnel, self.inputs.records)
                funnels.add(tuple(r.funnel or ()))
            if problems:
                self.failures.append("pass check: " + "; ".join(problems))
        if self.kind == "curation":
            self.attempted += 1  # the funnel must agree across passes
            if len(funnels) != 1:
                self.failures.append(f"funnel differs between passes: {sorted(funnels)}")
        self.expected_rows = expected[1]

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0

    def shutdown(self) -> None:
        """Stop the session and wait for the JVM (and its Python
        workers) to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def _layer_counters(tracer, layer: str) -> dict:
    import spans

    out: dict[str, float] = {}
    for span in spans.iter_spans(tracer.roots):
        if span.layer != layer:
            continue
        for k, v in span.counters.items():
            if k != "call_sites":
                out[k] = out.get(k, 0) + v
    return out


def _self_times(tracer) -> list[dict[str, float]]:
    """Per traced pass: summed self time by span name."""
    import spans

    per_pass = []
    for root in tracer.roots:
        acc: dict[str, float] = {}
        for span in spans.iter_spans([root]):
            acc[span.name] = acc.get(span.name, 0.0) + span.self_time()
        per_pass.append(acc)
    return per_pass


def run(args) -> int:
    run_dir = os.path.join(
        os.getcwd(), ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}"
    )
    _isolate(run_dir)
    try:
        import flask_data_pipes_spark  # noqa: F401
        import pyspark
    except ImportError as exc:
        print(f"perfbench: cannot import the program: {exc}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    sizes = SMOKE_SIZES[args.workload] if args.smoke else None
    bench = Run(args, run_dir, sizes)
    load_before = os.getloadavg()
    cpu_before = _cpu_times()
    try:
        start, warm = bench.setup(bool(args.trace))
        sc = bench.spark.sparkContext
        print(
            "env "
            + json.dumps(
                {
                    "nproc": len(os.sched_getaffinity(0)),
                    "master": sc.master,
                    "shuffle_partitions": bench.spark.conf.get("spark.sql.shuffle.partitions"),
                    "loadavg_before": [round(x, 2) for x in load_before],
                    "pyspark": pyspark.__version__,
                    "java": sc._jvm.java.lang.System.getProperty("java.version"),
                    "python": sys.version.split()[0],
                    "workload": args.workload,
                    "seed": args.seed,
                    "clients": 1,
                    "loop": "closed",
                    "objects": len(bench.inputs.paths),
                    "input_records": bench.inputs.records,
                    "input_bytes": bench.inputs.bytes,
                    "gen_s": round(bench.gen_s, 3),
                }
            ),
            flush=True,
        )
        plain, traced = bench.measure(bool(args.trace))
        bench.check(plain + traced)
        peak = bench.peak_rss_mb()
        metrics, detail = _metrics(bench, start, warm, plain, traced, peak)
    finally:
        bench.shutdown()
        if args.trace and getattr(bench, "tracer", None) is not None:
            out_dir = os.path.join(os.getcwd(), ".perfbench", "spans")
            os.makedirs(out_dir, exist_ok=True)
            bench.tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.jsonl"))
        shutil.rmtree(run_dir, ignore_errors=True)
    detail["loadavg_after"] = [round(x, 2) for x in os.getloadavg()]
    detail["cpu_steal_pct"] = _steal_pct(cpu_before, _cpu_times())
    detail["error_rate"] = {"value": len(bench.failures) / bench.attempted, "unit": "ratio"}
    if bench.failures:
        detail["failures"] = bench.failures[:20]
    print("detail " + json.dumps(detail), flush=True)
    print(
        json.dumps(
            {
                "correct": not bench.failures,
                "attempted": bench.attempted,
                "failed": len(bench.failures),
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


def _latency_growth(results, stalled: list[bool]) -> dict:
    """Object latency at the start and the end of a pass, as the store
    grows: medians over the first and the last quarter of the objects
    that did not stall, pooled over passes."""
    keep = [i for i, s in enumerate(stalled) if not s]
    q = max(1, len(keep) // 4)
    first = [r.object_latencies[i] for r in results for i in keep[:q]]
    last = [r.object_latencies[i] for r in results for i in keep[-q:]]
    f, l = statistics.median(first), statistics.median(last)
    return {"first_quarter_s": f, "last_quarter_s": l, "ratio": l / f, "objects": q}


def _metrics(bench, start, warm, plain, traced, peak):
    import workloads

    med = statistics.median
    inputs = bench.inputs
    pass_s = med(r.seconds for r in plain)
    pass_cpu_s = med(r.cpu_seconds for r in plain)
    latencies = [x for r in plain for x in r.object_latencies]
    pct, tail, n = _tail(latencies)
    last = plain[-1]
    written = med(workloads.bytes_written(r) for r in plain)
    detail = {
        "passes": len(plain),
        "pass_times_s": [round(r.seconds, 4) for r in plain],
        "pass_cpu_times_s": [round(r.cpu_seconds, 3) for r in plain],
        "object_p50_s": {"value": med(latencies), "unit": "s", "samples": n},
        "object_tail_s": {"value": tail, "unit": "s", "percentile": pct, "samples": n},
        "object_latency_growth": _latency_growth(plain, inputs.stall),
        "session_start_s": round(start, 4),
        "warm_pass_s": round(warm, 4),
        "state_bytes_written": last.store.bytes_written,
    }
    if last.funnel:
        detail["funnel"] = [row[2] for row in last.funnel]
    if not bench.args.trace:
        return {
            "setup_s": {"value": start + warm, "unit": "s"},
            "pass_s": {"value": pass_s, "unit": "s"},
            "rows_per_s": {"value": inputs.records / pass_s, "unit": "rec/s"},
            "pass_cpu_s": {"value": pass_cpu_s, "unit": "s"},
            "write_amp": {"value": written / inputs.bytes, "unit": "ratio"},
            "peak_rss_mb": {"value": peak, "unit": "MB"},
        }, detail

    tracer = bench.tracer
    per_pass = _self_times(tracer)
    values: dict[str, float] = {}
    for metric, span_name in SELF_TIMES.items():
        values[metric] = med(p.get(span_name, 0.0) for p in per_pass)
    counters = _layer_counters(tracer, "pipeline")
    n_traced = len(traced)
    objects = len(inputs.paths)
    raw, _ = workloads.dir_bytes(os.path.join(last.data_dir, "raw"))
    transformed, _ = workloads.dir_bytes(os.path.join(last.data_dir, "transformed"))
    out_bytes, out_files = workloads.dir_bytes(os.path.join(last.data_dir, "load"))
    values.update(
        {
            "session.start_s": start,
            "session.warm_s": warm,
            "sources.input_records": inputs.records,
            "sources.input_bytes": inputs.bytes,
            "pipeline.state_upserts": traced[-1].store.upserts,
            "pipeline.jobs_per_object": counters.get("jobs", 0) / (n_traced * objects),
            "pipeline.jobs": counters.get("jobs", 0) / n_traced,
            "pipeline.tasks": counters.get("tasks", 0) / n_traced,
            "pipeline.executor_run_s": counters.get("executor_run_ms", 0) / 1e3 / n_traced,
            "pipeline.executor_cpu_s": counters.get("executor_cpu_ns", 0) / 1e9 / n_traced,
            "pipeline.shuffle_write_bytes": counters.get("shuffle_write_bytes", 0) / n_traced,
            "pipeline.spill_bytes": counters.get("spill_bytes", 0) / n_traced,
            "pipeline.staged_bytes": raw + transformed,
            "models.rows_out_per_in": bench.expected_rows / inputs.records,
            "sinks.output_bytes": out_bytes,
            "sinks.output_records": bench.expected_rows,
            "sinks.files_written": out_files,
            "trace.overhead_s": med(r.seconds for r in traced) - pass_s,
        }
    )
    detail["traced_pass_s"] = med(r.seconds for r in traced)
    detail["pipeline.gc_s"] = {"value": counters.get("gc_ms", 0) / 1e3 / n_traced, "unit": "s"}
    if bench.kind == "curation":
        detail.update(_operator_detail(bench, per_pass, n_traced, last.funnel))
    metrics = {k: {"value": values[k], "unit": unit} for k, unit in PER_LAYER.items()}
    return metrics, detail


def _operator_detail(bench, per_pass, n_traced, funnel) -> dict:
    """llm_curation only: the eight curation stages, llm_pipeline_e2e's own
    time, the keep ratio and the operator layer's Spark counters."""
    import workloads

    med = statistics.median
    out = {}
    for stage in workloads.E2E_STAGES:
        out[f"operators.{stage}_s"] = {
            "value": med(p.get(f"operators.{stage}", 0.0) for p in per_pass),
            "unit": "s",
        }
    out["operators.unattributed_s"] = {
        "value": med(p.get("plans.llm_pipeline_e2e", 0.0) for p in per_pass),
        "unit": "s",
    }
    out["operators.keep_ratio"] = {"value": funnel[-1][2] / funnel[0][2], "unit": "ratio"}
    out["operators.funnel"] = [row[2] for row in funnel]
    counters = _layer_counters(bench.tracer, "operators")
    for key, scale, unit in (
        ("jobs", 1, "count"),
        ("tasks", 1, "count"),
        ("executor_run_ms", 1e3, "s"),
        ("executor_cpu_ns", 1e9, "s"),
        ("gc_ms", 1e3, "s"),
        ("shuffle_write_bytes", 1, "bytes"),
        ("spill_bytes", 1, "bytes"),
    ):
        name = key.rsplit("_", 1)[0] + "_s" if unit == "s" else key
        out[f"operators.{name}"] = {"value": counters.get(key, 0) / scale / n_traced, "unit": unit}
    return out


def self_check(args) -> int:
    """Every workload once, untraced and traced, at smoke sizes; every
    named metric must be printed with its unit, and the run correct.
    With --testdata, also the llm_pipeline_e2e golden pin at sf0.001."""
    bad = []
    for workload in WORKLOADS:
        for trace, names in ((0, END_TO_END), (1, PER_LAYER)):
            cmd = [
                sys.executable, os.path.abspath(__file__), "--workload", workload,
                "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke",
            ]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            try:
                result = json.loads(lines[-1])
            except (IndexError, json.JSONDecodeError):
                bad.append(f"{workload} trace={trace}: no result (exit {proc.returncode})")
                print(proc.stderr[-3000:], file=sys.stderr)
                continue
            printed = result["metrics"]
            missing = [m for m, unit in names.items() if printed.get(m, {}).get("unit") != unit]
            ok = not missing and result["correct"] and set(printed) == set(names)
            if not ok:
                bad.append(f"{workload} trace={trace}: missing={missing} result={lines[-2:]}")
            print(f"self-check {workload} trace={trace}: {'ok' if ok else bad[-1]}", flush=True)
    bad += _anchor_check()
    if args.testdata:
        bad += _golden_pin(args.testdata)
    print("self-check " + ("passed" if not bad else "FAILED: " + "; ".join(bad)))
    return 0 if not bad else 1


def _anchor_check() -> list[str]:
    """Every stage anchor must still occur in llm_pipeline_e2e's source;
    a missing one would silently merge two stages' times."""
    sys.path.insert(0, ROOT)
    from flask_data_pipes_spark.plans.catalog_llm import llm_pipeline_e2e
    from spans import missing_anchors
    from workloads import E2E_ANCHORS

    missing = missing_anchors(llm_pipeline_e2e, E2E_ANCHORS)
    print(f"self-check stage anchors: {'ok' if not missing else missing}", flush=True)
    return [f"stage anchors missing from llm_pipeline_e2e: {missing}"] if missing else []


def _golden_pin(testdata: str) -> list[str]:
    """llm_pipeline_e2e at <testdata>/sf0.001 against the golden pin in
    tests/test_oracle_parity.py."""
    run_dir = os.path.join(os.getcwd(), ".perfbench", f"golden-{os.getpid()}")
    _isolate(run_dir)
    from flask_data_pipes_spark.session import get_spark
    from flask_data_pipes_spark.plans.catalog_llm import llm_pipeline_e2e
    from tests.test_oracle_parity import GOLDEN_DIGESTS, _golden_digest

    spark = get_spark(_engine_config(run_dir))
    try:
        df = llm_pipeline_e2e(spark, os.path.join(testdata, "sf0.001"))
        got = _golden_digest(df)
    finally:
        spark.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    ok = tuple(got) == tuple(GOLDEN_DIGESTS["llm_pipeline_e2e"])
    print(f"self-check golden llm_pipeline_e2e: {'ok' if ok else got}", flush=True)
    return [] if ok else [f"golden pin mismatch {got}"]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="smallest input sizes")
    ap.add_argument("--self-check", action="store_true")
    ap.add_argument("--testdata", help="directory holding sf0.001/ for the golden pin")
    args = ap.parse_args(argv)
    if args.self_check:
        return self_check(args)
    if not args.workload:
        ap.error("--workload is required")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
