"""Repository benchmark: end-to-end timings of the engine's public calls,
with a separate traced run that attributes them to layers.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One Python process drives one ``get_spark()`` session at local[nproc]
with the package's shipped session confs (only the driver heap is sized
to the machine, see ``DRIVER_MEM``) and runs a workload as a closed loop
with one client: each operation starts when the previous one returned.

Set-up (``setup_s``) is session start, the DuckDB oracle, the table
build and one warm pass. Then passes over the workload's operation list
run until ``--seconds`` have elapsed (at least two). Every operation is
timed from the public call to the fully fetched result and every result
is checked; checks and table copies sit outside the timings.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes and reports the per-layer metrics:
spans are recorded around each call (construct -> plan -> fetch, or the
``operators.layout`` call), Spark jobs become child spans, and the spans
are reduced to self times per layer. The traced minus the untraced pass
time is reported as the tracing overhead.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before
it print every metric by name and unit, and the run's configuration.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

from tracing import (
    Py4jCallCounter,
    SparkCounters,
    Tracer,
    catalyst_phases,
    latency_stats,
    layer_self_times,
    union_length,
)
from workloads import WORKLOADS, dir_files, make_workload

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"
OUT = ROOT / ".perfbench_out"
DATA = HERE / "data"
DEFAULT_SF = "0.01"
#: get_spark's default 48g heap does not fit a small machine; this is
#: the only session setting the benchmark chooses
DRIVER_MEM = "2g"
#: fewest measured passes per run: every operation's latency is its
#: median over at least two calls
MIN_PASSES = 2

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
}

LAYOUT_OPS = (
    "append", "merge_cow", "delete_dv", "update_dv", "read_full", "read_changes", "compact", "read_compacted",
)
PER_LAYER = {
    "peak_rss_mb": "MB", "session_start_s": "s", "oracle_s": "s", "table_build_s": "s", "warmup_s": "s",
    "construct_s": "s", "construct_jobs": "count", "py4j_calls": "count", "py4j_calls_range": "count",
    "analysis_ms": "ms", "optimization_ms": "ms", "planning_ms": "ms",
    "jobs": "count", "stages": "count", "tasks": "count", "counts_repeat": "bool",
    "exec_fetch_s": "s", "executor_run_s": "s", "executor_cpu_s": "s", "executor_offcpu_s": "s",
    "core_util": "ratio", "input_bytes": "B", "shuffle_read_bytes": "B", "shuffle_write_bytes": "B",
    "spill_bytes": "B", "gc_s": "s",
    "python_plan_nodes": "count", "python_udf_s": "s",
    "self_construct_s": "s", "self_catalyst_s": "s", "self_spark_s": "s", "self_fetch_s": "s",
    "self_layout_s": "s", "self_other_s": "s", "self_coverage": "ratio",
    "traced_pass_s": "s", "untraced_pass_s": "s", "tracing_overhead_s": "s",
    "write_p50_s": "s", "write_tail_s": "s", "space_amp": "ratio",
    "files_written": "count", "bytes_written": "B", "write_amp": "ratio",
    "live_files": "count", "dv_files": "count", "manifest_versions": "count",
    **{f"layout.{op}.{m}": u for op in LAYOUT_OPS for m, u in (("jobs", "count"), ("wall_s", "s"), ("driver_self_s", "s"))},
}

#: executed-plan operators that cross the Python worker boundary
PYTHON_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "MapInPandas", "MapInArrow", "PythonMapInArrow", "AggregateInPandas", "WindowInPandas",
    "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF", "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow",
)


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        (WORK / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={WORK / 'tmp'}"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, str(ROOT))


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Runner:
    def __init__(self, spark, workload) -> None:
        self.spark, self.wl = spark, workload
        self.failures: list[str] = []
        self.attempted = 0
        self.tracer = Tracer()
        self.counters = SparkCounters(spark)
        self.py4j = Py4jCallCounter()
        self.seen_stages: set = set()

    # -- one operation ----------------------------------------------------
    def _check(self, op, out) -> None:
        try:
            self.wl.check(op, out)
        except Exception as e:  # a wrong result is a failed operation
            self.failures.append(op.name)
            print(f"# FAILED {op.name}: {str(e)[:300]}", file=sys.stderr)

    def run_op(self, op) -> float | None:
        from pyspark.sql import DataFrame

        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = op.call()
            if isinstance(out, DataFrame):
                out = out.toPandas()
        except Exception:
            self.failures.append(op.name)
            print(f"# FAILED {op.name}:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        lat = time.perf_counter() - t0
        self._check(op, out)
        return lat

    def run_op_traced(self, op, op_id: int, rec: dict) -> float | None:
        from pyspark.sql import DataFrame

        tr, ctr = self.tracer, self.counters
        self.attempted += 1
        writes = op.kind == "write" and op.layer == "layout"
        before = self._table_files() if writes else None
        j0 = ctr.next_job_id()
        t0 = time.perf_counter()
        phase = {}
        qe = None
        try:
            with tr.span("op", op_id, op=op.name) as root:
                with tr.span(op.layer, op_id, root.id) as c:
                    calls0 = self.py4j.calls
                    self.py4j.install()
                    try:
                        out = op.call()
                    finally:
                        self.py4j.uninstall()
                phase[op.layer] = c
                j1 = ctr.next_job_id()
                if isinstance(out, DataFrame):
                    with tr.span("plan", op_id, root.id) as pl:
                        qe = out._jdf.queryExecution()
                        qe.executedPlan()
                    with tr.span("fetch", op_id, root.id) as fe:
                        jdf = out._jdf
                        out = out.toPandas()
                    phase.update(plan=pl, fetch=fe)
        except Exception:
            self.failures.append(op.name)
            print(f"# FAILED {op.name}:\n{traceback.format_exc()}", file=sys.stderr)
            return None
        lat = time.perf_counter() - t0
        j2 = ctr.next_job_id()
        ctr.drain()

        def parent_of(start: float) -> int:
            for s in phase.values():
                if s.start <= start <= s.end:
                    return s.id
            return root.id

        jobs = ctr.job_spans(j0, j2, self.seen_stages)
        job_iv = []
        for j in jobs:
            metrics = {k: v for k, v in j.items() if k not in ("job", "start", "end")}
            tr.add("job", op_id, parent_of(j["start"]), j["start"], j["end"], **metrics)
            job_iv.append((max(j["start"], root.start), min(j["end"], root.end)))
            for k, v in metrics.items():
                rec[k] += v
        rec["jobs_wall_s"] += union_length(job_iv)
        rec["jobs"] += j2 - j0
        rec["construct_jobs"] += j1 - j0
        rec["py4j_calls"] += self.py4j.calls - calls0
        if op.layer == "construct":
            rec["construct_s"] += c.duration
        if qe is not None:
            for name, (s, e) in catalyst_phases(jdf).items():
                tr.add(name, op_id, parent_of(s), s, e)
                rec[f"{name}_ms"] += (e - s) * 1e3
            plan = qe.executedPlan()
            if plan.nodeName() == "AdaptiveSparkPlan":  # count the final plan only
                plan = plan.executedPlan()
            plan = plan.toString()
            rec["python_plan_nodes"] += sum(plan.count(n + " ") + plan.count(n + "(") for n in PYTHON_NODES)
            rec["exec_fetch_s"] += fe.duration
        if op.layer == "layout":
            key = f"layout.{op.name}"
            rec[f"{key}.jobs"] += j2 - j0
            rec[f"{key}.wall_s"] += lat
            rec[f"{key}.driver_self_s"] += root.duration - union_length(job_iv)
        if writes:
            after = self._table_files()
            new = {k: v for k, v in after.items() if k not in before or before[k] != v}
            rec["files_written"] += sum(1 for k in new if k.endswith(".parquet"))
            rec["bytes_written"] += sum(new.values())
            rec["source_bytes"] += self.wl.source_bytes(op)
        self._check(op, out)
        return lat

    def _table_files(self) -> dict:
        return dir_files(Path(self.wl.t))

    # -- one pass ---------------------------------------------------------
    def run_pass(self, k: int, traced: bool = False) -> dict:
        ops = self.wl.begin_pass(k)
        rec: dict = defaultdict(float)
        lat_of: dict = {}
        for i, op in enumerate(ops):
            lat = self.run_op_traced(op, k * 1000 + i, rec) if traced else self.run_op(op)
            if lat is not None:
                lat_of[(op.kind, op.name)] = lat
        rec.update(self.wl.end_pass())
        rec["lat_of"] = lat_of
        rec["pass_s"] = sum(lat_of.values())
        return rec


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def op_latencies(passes: list[dict], kind: str) -> list[float]:
    """One sample per operation of ``kind``: its median over the passes."""
    by_op = defaultdict(list)
    for p in passes:
        for (k, name), lat in p["lat_of"].items():
            if k == kind:
                by_op[name].append(lat)
    return [statistics.median(v) for v in by_op.values()]


def run_workload(args) -> dict:
    prepare_env()
    sf_dir = str(DATA / f"sf{args.sf}")
    if not Path(sf_dir, "lineitem.parquet").exists():
        raise SystemExit(f"missing input tables under {sf_dir}")
    nproc = len(os.sched_getaffinity(0))  # what `nproc` prints

    t0 = time.perf_counter()
    from dbt_slabbing_spark.session import get_spark

    spark = get_spark("perfbench", cpus=nproc)
    setup = {"session_start_s": time.perf_counter() - t0}
    wl = make_workload(args.workload, sf_dir, args.seed)
    try:
        setup.update(wl.setup(spark, WORK))
        runner = Runner(spark, wl)
        t0 = time.perf_counter()
        runner.run_pass(0)
        setup["warmup_s"] = time.perf_counter() - t0
        setup_s = sum(setup.values())

        passes, traced = [], []
        t_start = time.perf_counter()
        if args.trace:
            # untraced and traced passes alternate, so the tracing overhead
            # is not confounded with the JVM still warming up
            while len(traced) < MIN_PASSES or time.perf_counter() - t_start < args.seconds:
                passes.append(runner.run_pass(2 * len(traced) + 1))
                profiling = _udf_profiler(spark, on=True)
                traced.append(runner.run_pass(2 * len(traced) + 2, traced=True))
                traced[-1]["python_udf_s"] = _udf_profile_seconds(spark) if profiling else 0.0
                _udf_profiler(spark, on=False)
        else:
            while len(passes) < MIN_PASSES or time.perf_counter() - t_start < args.seconds:
                passes.append(runner.run_pass(len(passes) + 1))
        rss = peak_rss_mb(spark)
        conf = {k: v for k, v in spark.sparkContext.getConf().getAll() if k.startswith(("spark.sql.", "spark.master", "spark.driver.memory"))}
        versions = {"spark": spark.version, "pyspark": __import__("pyspark").__version__}
    finally:
        wl.close()
        stop_spark(spark)

    rs, ws = (latency_stats(op_latencies(passes, kind)) for kind in ("read", "write"))
    info = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf, "cpus": nproc,
        "driver_memory": DRIVER_MEM, "versions": versions, "session_conf": conf,
        "passes": len(passes), "traced_passes": len(traced),
        "read_samples": rs["n"], "read_tail_pct": rs["tail_pct"],
        "write_samples": ws["n"], "write_tail_pct": ws["tail_pct"],
        "failed_ops": sorted(set(runner.failures)),
        "fail_ratio": len(runner.failures) / max(1, runner.attempted),
    }
    if args.trace:
        metrics = _per_layer(runner, setup, passes, traced, nproc)
        metrics["peak_rss_mb"] = rss
        units = PER_LAYER
        _write_spans(runner, args)
    else:
        metrics = {
            "setup_s": setup_s,
            "pass_s": median([p["pass_s"] for p in passes]),
        }
        units = END_TO_END
        info.update(
            read_p50_s=rs["p50"], read_tail_s=rs["tail"], write_p50_s=ws["p50"], write_tail_s=ws["tail"],
            space_amp=median([p["space_amp"] for p in passes if "space_amp" in p]) or None,
            peak_rss_mb=rss,
            **setup,
        )
    shutil.rmtree(WORK, ignore_errors=True)
    return {
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {k: {"value": float(metrics.get(k, 0.0)), "unit": u} for k, u in units.items()},
        "info": info,
    }


def _udf_profiler(spark, on: bool) -> bool:
    """Switch Spark's Python UDF perf profiler on (traced passes) or off."""
    try:
        if on:
            spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
            spark.profile.clear(type="perf")
        else:
            spark.conf.unset("spark.sql.pyspark.udf.profiler")
        return True
    except Exception as e:  # a Spark build without the session profiler
        print(f"# python UDF profiler unavailable: {e}", file=sys.stderr)
        return False


def _udf_profile_seconds(spark) -> float:
    """Total time the Python workers' profiler recorded since the last
    call, then clear it."""
    results = spark.profile.profiler_collector._perf_profile_results
    total = sum(st.total_tt for st in results.values())
    spark.profile.clear(type="perf")
    return total


def _per_layer(runner, setup, passes, traced, nproc) -> dict:
    layer_of = {
        "op": "other", "construct": "construct", "layout": "layout", "plan": "catalyst",
        "analysis": "catalyst", "optimization": "catalyst", "planning": "catalyst",
        "fetch": "fetch", "job": "spark",
    }
    spans = runner.tracer.spans
    per_pass = []
    for rec in traced:
        m = {key: v for key, v in rec.items() if not isinstance(v, dict)}
        m["executor_offcpu_s"] = m.get("executor_run_s", 0.0) - m.get("executor_cpu_s", 0.0)
        m["core_util"] = m.get("executor_run_s", 0.0) / (m["jobs_wall_s"] * nproc) if m.get("jobs_wall_s") else 0.0
        m["write_amp"] = m["bytes_written"] / m["source_bytes"] if m.get("source_bytes") else 0.0
        per_pass.append(m)
    st = layer_self_times(spans, lambda s: layer_of[s.name])
    op_wall = sum(s.duration for s in spans if s.name == "op")
    out = {k: median([m.get(k, 0.0) for m in per_pass]) for k in PER_LAYER}
    n = max(1, len(traced))
    for layer in ("construct", "catalyst", "spark", "fetch", "layout", "other"):
        out[f"self_{layer}_s"] = st.get(layer, 0.0) / n
    out["self_coverage"] = 1.0 - st.get("other", 0.0) / op_wall if op_wall else 0.0
    counts = [(m.get("jobs"), m.get("stages"), m.get("tasks")) for m in per_pass]
    out["counts_repeat"] = float(len(set(counts)) == 1)
    py4j = [m.get("py4j_calls", 0.0) for m in per_pass]
    out["py4j_calls_range"] = max(py4j) - min(py4j)
    out["traced_pass_s"] = median([p["pass_s"] for p in traced])
    out["untraced_pass_s"] = median([p["pass_s"] for p in passes])
    out["tracing_overhead_s"] = out["traced_pass_s"] - out["untraced_pass_s"]
    ws = latency_stats(op_latencies(traced, "write"))
    out["write_p50_s"] = ws["p50"] if ws["n"] else 0.0
    out["write_tail_s"] = ws["tail"] if ws["n"] else 0.0
    out.update(setup)
    return out


def _write_spans(runner, args) -> None:
    OUT.mkdir(exist_ok=True)
    path = OUT / f"spans-{args.workload}-{args.seed}.json"
    path.write_text(json.dumps([s.__dict__ for s in runner.tracer.spans]))
    print(f"# spans written to {path.relative_to(ROOT)}", file=sys.stderr)


def fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.4g}" if math.isfinite(v) else str(v)
    return str(v)


def print_rows(results: list[dict]) -> None:
    """One row per workload: every metric by name and unit."""
    for r in results:
        info = r["info"]
        print(
            f"# run: workload={info['workload']} seed={info['seed']} sf={info['sf']} cpus={info['cpus']} "
            f"spark={info['versions']['spark']} pyspark={info['versions']['pyspark']} "
            f"driver_memory={info['driver_memory']}"
        )
        print(f"# session_conf: {json.dumps(info['session_conf'], sort_keys=True)}")
    for r in results:
        info = r["info"]
        cells = [f"{k}={fmt(m['value'])} {m['unit']}" for k, m in r["metrics"].items()]
        extra = {k: v for k, v in info.items() if k not in ("versions", "session_conf", "workload", "seed", "sf", "cpus", "driver_memory")}
        cells += [f"{k}={fmt(v)}" for k, v in extra.items()]
        print(f"{info['workload']:<10} attempted={r['attempted']} failed={r['failed']} " + " ".join(cells))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=DEFAULT_SF, help="bundled input scale under perfbench/data")
    ap.add_argument("--info", action="store_true", help="keep the run's configuration in the JSON line")
    args = ap.parse_args(argv)

    if args.workload == "all":
        results = []
        for w in WORKLOADS:
            cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace), "--sf", args.sf, "--info"]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
            if proc.returncode != 0:
                print(f"{w}: exited with {proc.returncode}", file=sys.stderr)
                return proc.returncode
            results.append(json.loads(proc.stdout.strip().splitlines()[-1]))
        print_rows(results)
        print(json.dumps({
            "correct": all(r["correct"] for r in results),
            "attempted": sum(r["attempted"] for r in results),
            "failed": sum(r["failed"] for r in results),
            "metrics": {f"{r['info']['workload']}.{k}": m for r in results for k, m in r["metrics"].items()},
        }))
        return 0

    result = run_workload(args)
    print_rows([result])
    if not args.info:
        result.pop("info")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
