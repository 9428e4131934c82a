"""Run one workload of the crick_spark benchmark and print its metrics.

    python3 perfbench/run.py --workload sketch_groups --seed 1 --seconds 15 --trace 0

Set-up (session start, seeded inputs, one untimed warm-up pass of every
op kind) is followed by a closed loop: one client, each op starting when
the previous one returns, for ``--seconds``.  Every op's output is
checked.  The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``.  The full record of the run (settings, Spark conf, host
diagnostics, every op) is written under ``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOAD_NAMES = ("sketch_groups", "exact_queries", "stream_fold")
INPUT_BUILDS = 3
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "4g"
ARROW_BATCH_ROWS = 10_000
THREAD_ENV = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: Path) -> dict:
    """One BLAS/OMP thread per process, temp files inside the checkout,
    and the checkout importable by the Python workers."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    for k in THREAD_ENV:
        os.environ[k] = "1"
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    keys = THREAD_ENV + ("TMPDIR", "JAVA_TOOL_OPTIONS", "PYTHONPATH", "PYSPARK_PYTHON")
    return {k: os.environ[k] for k in keys}


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def start_session(cores: int, work: Path):
    from crick_spark.session import get_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(ARROW_BATCH_ROWS),
        "spark.python.worker.reuse": "true",
    }
    conf.update({f"spark.executorEnv.{k}": "1" for k in THREAD_ENV})
    spark = get_session("perfbench", cpus=cores, shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def op_timing(records: list[dict]) -> dict:
    """Latency figures taken per op kind, because kinds differ in latency
    by up to 3x and a pooled median falls between two kinds, jumping from
    one to the other with noise:

    - ``op_p50_s``: the mean over op kinds of each kind's median latency;
    - ``rows_per_s``: the rows of one op of each kind ÷ the summed mean
      latencies of the kinds, i.e. the throughput of a round;
    - ``op_tail_s``: ``op_p50_s`` × the tail of every op's latency
      relative to its kind's median.  The tail is the highest percentile
      with at least ten ops beyond it; below twenty ops, where no
      percentile above the median has ten ops beyond it, it is the upper
      median."""
    kinds: dict[str, list] = {}
    for r in records:
        kinds.setdefault(r["op"], []).append(r)
    med = {k: statistics.median(r["latency_s"] for r in rs) for k, rs in kinds.items()}
    p50 = statistics.fmean(med.values())
    rows = sum(rs[0]["rows"] for rs in kinds.values())
    round_s = sum(statistics.fmean(r["latency_s"] for r in rs) for rs in kinds.values())
    ratios = sorted(r["latency_s"] / med[r["op"]] for r in records)
    n = len(ratios)
    rank = max(n - 10, n // 2 + 1)  # 1-based
    return {
        "op_p50_s": p50,
        "rows_per_s": rows / round_s,
        "op_tail_s": p50 * ratios[rank - 1],
        "op_tail_pct": 100.0 * rank / n,
        "ops": n,
    }


def run_op(op, traced: bool, tracer) -> dict:
    arg = op.setup()
    rec = {"op": op.name, "rows": op.rows, "traced": traced}
    df = None
    t = time.perf_counter()
    try:
        with tracer.op(op.name) if traced else nullcontext() as span:
            result, df = op.run(arg)
        rec["latency_s"] = time.perf_counter() - t
        rec["errors"] = op.check(result)
    except Exception as e:  # a failing op is counted, not fatal
        rec.setdefault("latency_s", time.perf_counter() - t)
        rec["errors"] = [f"{type(e).__name__}: {e}"[:2000]]
    if traced and not rec["errors"]:
        from perfbench.trace import plan_counts

        layers = tracer.session_counts(span["job_group"])
        if df is not None:
            layers.update(plan_counts(df))
        if op.layer:
            layers[op.layer] = rec["latency_s"]
        if op.probe:
            with tracer.span(f"{op.name}.probe", parent=span["id"]):
                layers.update(op.probe(arg, rec["latency_s"]))
        span["counts"] = layers
        rec["layers"] = layers
    return rec


def timed_phase(ops, seconds: float, trace: bool, tracer) -> list[dict]:
    """Closed loop over the op kinds in a fixed order, in whole rounds,
    until a round ends after ``seconds``.  Whole rounds keep every kind
    equally sampled: stopping mid-round let the op count of a run flip
    with ±0.5 s of noise, and with it which kinds had a second, warmer
    sample.  The traced run runs each op twice in a row, plain and
    traced, alternating which goes first from op to op and round to
    round, so the warmer second run favours neither side."""
    records = []
    deadline = time.perf_counter() + seconds
    rnd = 0
    while True:
        for i, op in enumerate(ops):
            modes = ((False, True) if (i + rnd) % 2 == 0 else (True, False)) if trace else (False,)
            for traced in modes:
                rec = run_op(op, traced, tracer)
                rec["round"] = rnd
                records.append(rec)
        rnd += 1
        if time.perf_counter() >= deadline:
            return records


def per_layer(records: list[dict], end_layers: dict, names: list[str]) -> dict:
    """Per-op means over the traced ops that exercised each layer metric,
    0 where no op of the workload exercises it; and the tracing overhead:
    the geometric mean of each traced op's latency over its plain twin's,
    − 1.  Half the pairs run traced first, so a first-of-pair slowdown
    cancels in the mean of the log ratios."""
    out = {}
    for name in names:
        vals = [r["layers"][name] for r in records if name in r.get("layers", {})]
        out[name] = statistics.fmean(vals) if vals else 0.0
    out.update({k: v for k, v in end_layers.items() if k in names})
    ratios = [
        (a if a["traced"] else b)["latency_s"] / (b if a["traced"] else a)["latency_s"]
        for a, b in zip(records[::2], records[1::2])
        if not (a["errors"] or b["errors"])
    ]
    if ratios:
        out["trace.overhead_ratio"] = statistics.geometric_mean(ratios) - 1.0
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    os.chdir(ROOT)
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    results = ROOT / ".perfbench_work" / "results"
    results.mkdir(parents=True, exist_ok=True)
    env = pin_environment(work)
    sys.path.insert(0, str(ROOT))
    try:
        import crick_spark  # noqa: F401
        import pyspark  # noqa: F401

        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2

    cores = len(os.sched_getaffinity(0))
    steal0, total0 = cpu_ticks()
    load_start = os.getloadavg()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(cores, work)
        session_s = time.perf_counter() - t0
        spark_conf = dict(spark.sparkContext.getConf().getAll())

        tracer = Tracer(spark, f"{args.workload}-{args.seed}")
        wl = WORKLOADS[args.workload](spark, args.seed, tracer)
        builds = []
        for i in range(INPUT_BUILDS):
            t = time.perf_counter()
            wl.build_inputs(str(work / f"inputs-{i}"))
            builds.append(time.perf_counter() - t)
            if i:
                shutil.rmtree(work / f"inputs-{i - 1}", ignore_errors=True)
        t = time.perf_counter()
        wl.exact_answers()
        exact_s = time.perf_counter() - t
        ops = wl.timed_ops()

        t = time.perf_counter()
        for op in wl.warmup_ops():
            try:
                op.run(op.setup())
            except Exception:  # counted when the same op fails timed
                pass
        warmup_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(builds) + exact_s + warmup_s

        gc0 = jvm_gc_s(spark)
        records = timed_phase(ops, args.seconds, bool(args.trace), tracer)
        gc_s = jvm_gc_s(spark) - gc0
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        steal1, total1 = cpu_ticks()

        checks = wl.final_checks()
        end_layers = wl.end_layers() if args.trace else {}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    timing = op_timing([r for r in records if not r["traced"]])
    failures = [(r["op"], r["errors"]) for r in records if r["errors"]]
    failures += [(name, errs) for name, errs in checks if errs]
    attempted = len(records) + len(checks)
    failed = len(failures)
    e2e = {
        "setup_s": setup_s,
        "rows_per_s": timing["rows_per_s"],
        "op_p50_s": timing["op_p50_s"],
        "op_tail_s": timing["op_tail_s"],
        "driver_rss_peak_mb": rss_mb,
        "ok_ratio": 1.0 - failed / attempted,
        "quantile_rank_err": statistics.fmean(m for m, _ in wl.rank_errs.values()) if wl.rank_errs else 0.0,
    }
    layer_names = [m["name"] for m in spec["per_layer"]]
    layers = per_layer(records, end_layers, layer_names) if args.trace else {}
    group = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in group}

    stamp = time.strftime("%Y%m%dT%H%M%S")
    base = results / f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}-{os.getpid()}"
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "settings": {
            "master": f"local[{cores}]",
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "arrow_batch_rows": ARROW_BATCH_ROWS,
            "driver_memory": DRIVER_MEMORY,
            "input_builds": INPUT_BUILDS,
            "input_rows": {op.name: op.rows for op in ops},
            "input_bytes": wl.inputs_bytes,
            "env": env,
        },
        "spark_conf": spark_conf,
        "host": {
            "steal_pct": 100.0 * (steal1 - steal0) / max(total1 - total0, 1),
            "loadavg_start": load_start,
            "jvm_gc_s": gc_s,
        },
        "setup": {"session_s": session_s, "input_builds_s": builds, "exact_answers_s": exact_s, "warmup_s": warmup_s},
        "ops": timing["ops"],
        "op_tail_pct": timing["op_tail_pct"],
        "fail_ratio": failed / attempted,
        "failures": failures,
        "end_to_end": e2e,
        "rank_errors": {k: {"mean": m, "max": x} for k, (m, x) in wl.rank_errs.items()},
        "per_layer": layers,
        "records": records,
    }
    base.with_suffix(".json").write_text(json.dumps(record, indent=1, default=str))
    if args.trace:
        tracer.write(str(base) + "-spans.json")
    print(f"perfbench: record written to {base.with_suffix('.json')}", file=sys.stderr)
    for name, errs in failures:
        print(f"perfbench: FAILED {name}: {errs[:3]}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
