"""Entry-point benchmark for faang_pydantics_validation_spark.

    python3 perfbench/run.py --workload batch_validate --seed 1 --seconds 10 --trace 0

One process, one Spark session on local[nproc] built by the program's own
get_spark: its defaults, except the driver heap capped at DRIVER_MEM
through the program's SPARK_DRIVER_MEM override, plus observability
confs (console progress off; the status REST API when traced). Inputs are
generated from --seed, the session is warmed by the workload's warm_ops
operations (the count after which operation times stopped falling when
the benchmark was sized), then operations run back to back (a closed loop, one caller)
until --seconds of operation time are measured. Every operation's output
is checked against the generator's ground truth outside the timed
region (warm-up operations are not checked), and what it cached or wrote
is released before the next one.

--trace 0 prints the end-to-end metrics; --trace 1 wraps the program's
public functions in spans, reads per-stage task metrics from Spark's
status store by job group, and prints the per-layer metrics plus a
per-layer table. The last stdout line is the result JSON. Every run's
result is appended to .perfbench_runs/results.jsonl under the checkout,
and a traced run reports its overhead against the untraced runs there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUNS = os.path.join(ROOT, ".perfbench_runs")
UI_PORT = 4047
DRIVER_MEM = "4g"

END_TO_END = ("setup_s", "op_p50_ms")
PER_LAYER = (
    "peak_rss_mb",
    "session.get_spark_s",
    "plans.build_s",
    "plans.analyze_s",
    "driver.idle_s",
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.packing",
    "exec.scan.run_s",
    "exec.scan.cpu_s",
    "exec.scan.input_mb",
    "exec.exchange.write_mb",
    "exec.exchange.write_s",
    "exec.exchange.fetch_wait_s",
    "exec.window.run_s",
    "exec.window.cpu_s",
    "exec.agg.run_s",
    "exec.sink.run_s",
    "exec.sink.output_mb",
    "exec.spill_mb",
    "exec.gc_s",
    "checkpoint.partition_s",
    "checkpoint.stages_per_partition",
    "checkpoint.pending_s",
    "checkpoint.load_results_s",
    "checkpoint.resume_s",
    "checkpoint.write_amp",
    "serving.plan_s",
    "serving.collect_s",
    "serving.export_s",
    "dedup.exact.run_s",
    "dedup.near.run_s",
    "dedup.quality.run_s",
    "dedup.shuffle_write_mb",
    "dedup.cached_mb",
    "dedup.drop_ratio",
    "cache.leaked_rdds",
    "trace.setup_s",
    "trace.op_p50_ms",
)
UNITS = {"_s": "s", "_ms": "ms", "_mb": "MB"}



def unit(name: str) -> str:
    for suffix, u in UNITS.items():
        if name.endswith(suffix):
            return u
    return "ratio" if name.endswith(("packing", "ratio", "amp")) else "count"


def process_age() -> float:
    """Seconds since this process started (covers interpreter start-up)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


class RssSampler(threading.Thread):
    """Peak of (driver JVM + this process) resident memory, sampled."""

    def __init__(self, pids: list[int], every: float = 0.05) -> None:
        super().__init__(daemon=True)
        self.pids, self.every, self.peak = pids, every, 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        total = 0
        for pid in self.pids:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * self._page
        self.peak = max(self.peak, total)

    def run(self) -> None:
        while not self._stop_evt.wait(self.every):
            self.sample()

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        self.sample()
        return self.peak / 2**20


class Ctx:
    """What a workload needs: the session and its run parameters. Module
    attributes swapped for the run go through patch(), and restore()
    puts them back in reverse order."""

    def __init__(self, spark, master: str, seed: int, work: str, trace: bool) -> None:
        self.spark, self.master, self.seed, self.work, self.trace = spark, master, seed, work, trace
        self._saved: list[tuple[object, str, object]] = []

    def patch(self, owner, attr: str, value) -> None:
        self._saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def restore(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def persisted_ids(self) -> set[int]:
        return set(self.spark.sparkContext._jsc.getPersistentRDDs().keys())

    def cached_mb(self) -> float:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20


def install_spans(tracer, ctx) -> None:
    """Wrap each layer's public functions (module attributes) in spans."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    from faang_pydantics_validation_spark import serving, session
    from faang_pydantics_validation_spark.jobs import dedup_cli, validate_cli
    from faang_pydantics_validation_spark.operators import dedup, schema, stats, text
    from faang_pydantics_validation_spark.plans import checkpoint, fused, pipeline, rulesets, verdicts

    def analyze(res) -> None:
        with tracer.span("plans.analyze"):
            for df in (res.violations, res.verdicts):
                df._jdf.queryExecution().executedPlan()

    sc = ctx.spark.sparkContext
    targets = [
        (session, "get_spark", "session.get_spark", None),
        (rulesets, "transcript_scalar_rules", "rules", None),
        (fused, "rule_to_struct", "rules", None),
        (fused, "rules_flags", "rules", None),
        (pipeline, "compile_row_rules", "rules", None),
        (fused, "validate_transcripts_fused", "plans.build", analyze),
        (pipeline, "validate_transcripts", "plans.build", analyze),
        (fused, "verdicts", "plans.verdicts", None),
        (pipeline, "verdicts", "plans.verdicts", None),
        (verdicts, "write_results_json", "plans.verdicts.results_json", None),
        (verdicts, "render_report", "plans.verdicts.report", None),
        (verdicts, "export_valid_structured", "plans.verdicts.export", None),
        (checkpoint, "run_with_checkpoint", "plans.checkpoint", None),
        (checkpoint, "pending_partitions", "plans.checkpoint.pending", None),
        (checkpoint, "load_results", "plans.checkpoint.load_results", None),
        (schema, "schema_check", "operators.schema", None),
        (stats, "column_stats", "operators.stats", None),
        (dedup, "exact_duplicates", "operators.dedup", None),
        (dedup, "minhash_lsh_pairs", "operators.dedup", None),
        (text, "quality_features", "operators.text", None),
        (text, "language_id", "operators.text", None),
        (serving, "validate_json_batch", "serving", None),
        (validate_cli, "main", "jobs.validate_cli", None),
        (dedup_cli, "run_dedup_pipeline", "jobs.dedup_cli", None),
        (DataFrame, "count", "spark.count", None),
    ]
    for owner, attr, name, after in targets:
        ctx.patch(owner, attr, tracer.wrapper(getattr(owner, attr), name, after))

    collect = DataFrame.collect

    def traced_collect(df):
        name = "spark.collect.export" if "export_format" in df.columns else "spark.collect"
        with tracer.span(name):
            return collect(df)

    ctx.patch(DataFrame, "collect", traced_collect)

    # writes run under <group>:sink so their final stage is the sink layer
    parquet = DataFrameWriter.parquet

    def traced_parquet(writer, *args, **kwargs):
        group = tracer.run_id
        sc.setJobGroup(f"{group}:sink", group)
        try:
            with tracer.span("spark.write"):
                return parquet(writer, *args, **kwargs)
        finally:
            sc.setJobGroup(group, group)

    ctx.patch(DataFrameWriter, "parquet", traced_parquet)


class Sample:
    def __init__(self, seconds: float, problems: list[str], layer: dict) -> None:
        self.seconds, self.problems, self.layer = seconds, problems, layer


def attempt(ctx, wl, tag: str, tracer, cores: int, check: bool = True) -> Sample:
    """One operation: timed op, then (untimed) cache release, output
    check, per-layer metrics and output cleanup. Warm-up operations skip
    the output check."""
    from faang_pydantics_validation_spark.operators import dedup as DD

    spark = ctx.spark
    before = ctx.persisted_ids()
    mark = DD.cache_mark()
    if tracer is not None:
        tracer.run_id = tag
        spark.sparkContext.setJobGroup(tag, tag)
    w0 = time.time()
    t0 = time.perf_counter()
    info, problems = None, []
    try:
        info = wl.op(ctx)
    except Exception:
        problems = [traceback.format_exc()]
    seconds = time.perf_counter() - t0
    w1 = time.time()
    layer = {"cache.leaked_rdds": float(len(ctx.persisted_ids() - before))}
    DD.release_caches(mark)
    if ctx.persisted_ids() - before:
        spark.catalog.clearCache()
    if check and not problems:
        try:
            problems = wl.check(ctx, info)
        except Exception:
            problems = [traceback.format_exc()]
    if tracer is not None and check and not problems:
        layer.update(traced_layers(ctx, wl, info, tag, tracer, w0, w1, cores))
    wl.reset(ctx)
    for p in problems:
        print(f"[{wl.name}] {tag} failed: {p}", file=sys.stderr)
    return Sample(seconds, problems, layer)


def traced_layers(ctx, wl, info, tag, tracer, w0, w1, cores) -> dict:
    import stages
    from tracing import total_times

    sc = ctx.spark.sparkContext
    jobs, st = stages.fetch(sc.uiWebUrl, sc.applicationId)
    execm = stages.summarize(jobs, st, tag, w0, w1, cores)
    spans = tracer.run_spans(tag)
    t = total_times(spans)
    execm["plans.build_s"] = t.get("plans.build", 0.0) - t.get("plans.analyze", 0.0)
    execm["plans.analyze_s"] = t.get("plans.analyze", 0.0)
    execm.update(wl.layer(ctx, info, spans, execm))
    return execm


def session_env(spark, cores: int) -> dict:
    conf = spark.sparkContext.getConf()
    keys = (
        "spark.master",
        "spark.driver.memory",
        "spark.sql.shuffle.partitions",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
    )
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "confs": {k: spark.conf.get(k, None) or conf.get(k, None) for k in keys},
        "nproc": cores,
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
    }


def shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def layer_table(wl, tracer, samples: list[Sample]) -> str:
    from tracing import self_times

    import stats as S

    tags = sorted({s.run_id for s in tracer.spans if s.run_id.startswith("op")})
    per_op: dict[str, list[float]] = {}
    for tag in tags:
        for name, sec in self_times(tracer.run_spans(tag)).items():
            per_op.setdefault(name, []).append(sec)
    lines = [f"per-layer table: {wl.name}, {len(tags)} traced operations",
             f"  {'span (self time)':<34}{'median s/op':>12}"]
    for name, vals in sorted(per_op.items(), key=lambda kv: -S.median(kv[1])):
        lines.append(f"  {name:<34}{S.median(vals):>12.4f}")
    lines.append(f"  {'job group':<12}{'jobs':>6}{'stages':>8}{'tasks':>7}"
                 f"{'scan s':>9}{'window s':>10}{'agg s':>8}{'sink s':>8}{'shuf MB':>9}{'idle s':>8}")
    for tag, s in zip(tags, samples):
        m = s.layer
        if "exec.jobs" not in m:
            continue
        lines.append(
            f"  {tag:<12}{m['exec.jobs']:>6.0f}{m['exec.stages']:>8.0f}{m['exec.tasks']:>7.0f}"
            f"{m['exec.scan.run_s']:>9.3f}{m['exec.window.run_s']:>10.3f}{m['exec.agg.run_s']:>8.3f}"
            f"{m['exec.sink.run_s']:>8.3f}{m['exec.exchange.write_mb']:>9.2f}{m['driver.idle_s']:>8.3f}"
        )
    return "\n".join(lines)


def overhead_lines(workload: str, traced: dict) -> list[str]:
    """Traced median minus untraced median of each end-to-end metric,
    over the runs recorded in results.jsonl."""
    import stats as S

    path = os.path.join(RUNS, "results.jsonl")
    if not os.path.isfile(path):
        return ["tracing overhead: no untraced runs recorded yet"]
    with open(path) as f:
        recs = [json.loads(ln) for ln in f if ln.strip()]
    base = [r for r in recs if r["workload"] == workload and not r["trace"] and r["correct"]]
    tr = [r for r in recs if r["workload"] == workload and r["trace"] and r["correct"]] + [traced]
    if not base:
        return ["tracing overhead: no untraced runs recorded yet"]
    out = []
    for m in traced["metrics"]:
        a = S.median([r["metrics"][m] for r in tr])
        b = S.median([r["metrics"][m] for r in base])
        out.append(f"tracing overhead {m}: {a - b:+.4f} (traced median of {len(tr)} runs "
                   f"{a:.4f} vs untraced median of {len(base)} runs {b:.4f})")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import stats as S
    from tracing import Tracer

    import workloads
    from faang_pydantics_validation_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")

    work = os.path.join(RUNS, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # everything the run writes stays under the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["TZ"] = "UTC"
    time.tzset()
    # the session's 24g default driver heap lets the JVM grow past 12 GB
    # resident on a 15 GB host; cap it through the program's own override
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    wl = workloads.WORKLOADS[args.workload]()
    cores = len(os.sched_getaffinity(0))
    master = f"local[{cores}]"
    obs = {"spark.ui.showConsoleProgress": "false"}
    if args.trace:
        obs.update({"spark.ui.enabled": "true", "spark.ui.port": str(UI_PORT)})
    tracer = Tracer() if args.trace else None

    t = time.perf_counter()
    spark = get_spark(master=master, extra_conf=obs)
    get_spark_s = time.perf_counter() - t
    ctx = Ctx(spark, master, args.seed, work, bool(args.trace))
    sampler = None
    try:
        from pyspark import SparkContext

        t = time.perf_counter()
        wl.prepare(ctx)
        gen_s = excluded = time.perf_counter() - t  # input generation is not set-up
        sampler = RssSampler([SparkContext._gateway.proc.pid, os.getpid()])
        sampler.start()
        if tracer is not None:
            install_spans(tracer, ctx)

        samples: list[Sample] = []
        while len(samples) < wl.warm_ops:
            t = time.perf_counter()
            samples.append(attempt(ctx, wl, f"warm{len(samples)}", tracer, cores, check=False))
            excluded += time.perf_counter() - t - samples[-1].seconds  # cleanup
        setup_s = process_age() - excluded

        measured: list[Sample] = []
        while sum(s.seconds for s in measured) < args.seconds:
            measured.append(attempt(ctx, wl, f"op{len(measured):03d}", tracer, cores))
        peak_mb = sampler.stop()  # over warm-up and measurement
        sampler = None

        extra: list[Sample] = []
        if tracer is not None and getattr(wl, "companion", None):
            comp = workloads.WORKLOADS[wl.companion]()
            comp.adopt(ctx, wl)
            extra.append(attempt(ctx, comp, "companion", tracer, cores))
        op_s = [s.seconds for s in measured]
        failed = sum(1 for s in samples + measured + extra if s.problems)
        attempted = len(samples) + len(measured) + len(extra)
        e2e = {"setup_s": setup_s, "op_p50_ms": 1000.0 * S.median(op_s)}
        tail = S.highest_supported_percentile(len(op_s))
        env = session_env(spark, cores)
        env.update(
            workload=wl.name,
            items_per_op=wl.items,
            gen_s=round(gen_s, 3),
            warm_op_s=[round(s.seconds, 3) for s in samples],
            op_s=[round(x, 3) for x in op_s],
            # the highest percentile with ten samples beyond it, if any
            op_tail_ms={f"p{tail:g}": 1000.0 * S.percentile(op_s, tail)} if tail else None,
        )
        print("env " + json.dumps(env))
        if args.trace:
            layer = {k: 0.0 for k in PER_LAYER}
            for k in PER_LAYER:
                vals = [s.layer[k] for s in measured if k in s.layer]
                if vals:
                    layer[k] = S.median(vals)
            for s in extra:
                layer.update({k: v for k, v in s.layer.items() if k.startswith("checkpoint.")})
            layer["session.get_spark_s"] = get_spark_s
            layer["peak_rss_mb"] = peak_mb
            layer["trace.setup_s"] = e2e["setup_s"]
            layer["trace.op_p50_ms"] = e2e["op_p50_ms"]
            print(layer_table(wl, tracer, measured))
            metrics = layer
            tracer.dump(os.path.join(RUNS, f"spans-{wl.name}-seed{args.seed}.json"))
        else:
            metrics = e2e
        record = {
            "workload": wl.name, "seed": args.seed, "trace": bool(args.trace), "correct": failed == 0,
            "metrics": {**e2e, "peak_rss_mb": peak_mb}, "env": env,
        }
        if args.trace:
            for line in overhead_lines(wl.name, record):
                print(line)
        with open(os.path.join(RUNS, "results.jsonl"), "a") as f:
            f.write(json.dumps(record) + "\n")
    finally:
        if sampler is not None:
            sampler.stop()
        ctx.restore()
        shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
