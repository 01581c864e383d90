"""kaer-spark benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics of
``spec.json`` with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A fuller report (environment stamp, latency breakdown, spans) is written
to ``.perfbench/reports/``. Exit status 0 means every correctness check
passed. Everything the run writes stays under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")


def load_spec() -> dict:
    with open(os.path.join(HERE, "spec.json")) as f:
        return json.load(f)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def canary_s() -> float:
    """Best of three timings of a fixed pure-Python loop: a slow reading
    marks a run that shared its cores."""
    best = float("inf")
    for _ in range(3):
        t = time.perf_counter()
        sum(i * i for i in range(300_000))
        best = min(best, time.perf_counter() - t)
    return best


def cpu_times_s() -> dict:
    """Host-wide CPU seconds by state; ``steal`` is time the hypervisor
    gave this machine's virtual CPUs to someone else."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    hz = os.sysconf("SC_CLK_TCK")
    return {n: t / hz for n, t in zip(names, ticks)}


def host_stamp() -> dict:
    return {
        "time": time.time(),
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "canary_s": canary_s(),
        "cpu_s": cpu_times_s(),
    }


#: HotSpot's JIT compiler threads, by the first 15 letters of their name
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(stat_path: str) -> tuple[int, list[str]] | None:
    """(parent pid, fields after the command name) of a /proc stat file."""
    try:
        with open(stat_path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:  # the process or thread ended meanwhile
        return None
    return int(fields[1]), fields


def work_cpu_s(root: int, jvm_pid: int) -> float:
    """CPU seconds the engine has spent on work: user and system time of
    ``root`` and every descendant (the driver JVM, its Python workers, with
    their reaped children), less the JVM's JIT compiler threads.

    The kernel does not charge a process for time the hypervisor gives its
    cores to other guests, so unlike wall time this cost does not grow with
    it. JIT compilation is left out because how far it has got at a given
    request varies from run to run; the JVM is started with a fixed set of
    compiler threads so none of their time leaves with an exited thread."""
    kids: dict[int, list[int]] = {}
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (st := _stat(f"/proc/{name}/stat")):
            kids.setdefault(st[0], []).append(int(name))
            ticks[int(name)] = sum(int(x) for x in st[1][11:15])  # utime stime cutime cstime
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += kids.get(pid, [])
    task = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
        except OSError:
            continue
        if st := _stat(f"{task}/{tid}/stat"):
            total -= int(st[1][11]) + int(st[1][12])
    return total / os.sysconf("SC_CLK_TCK")


#: runs of the reference job before and after the measured loop
REFERENCE_RUNS = 2


def reference_cpu_s(spark, jvm_pid: int) -> float:
    """Work CPU seconds of one run of a fixed PySpark job that calls no
    kaer_spark code: 400k rows through a pandas map into a hash aggregate
    over 101 groups. Like the workloads it plans a query, runs generated
    code, a shuffle and the Python workers, so its cost moves with the
    speed the host gives this machine's cores, and not with the engine."""
    from pyspark.sql import functions as F

    def lengths(batches):
        for pdf in batches:
            pdf["s"] = pdf["s"].str.len() * pdf["id"]
            yield pdf

    df = (
        spark.range(0, 400_000, numPartitions=4)
        .selectExpr("id", "id % 101 AS k", "CAST(id AS STRING) AS s")
        .mapInPandas(lengths, "id long, k long, s long")
        .groupBy("k").agg(F.sum(F.hash("s")).alias("h"), F.count("*").alias("n"))
    )
    cpu0 = work_cpu_s(os.getpid(), jvm_pid)
    rows = df.collect()
    cpu = work_cpu_s(os.getpid(), jvm_pid) - cpu0
    if len(rows) != 101 or sum(r["n"] for r in rows) != 400_000:
        raise RuntimeError("the reference job returned a wrong answer")
    return cpu


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def isolate_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python workers write inside the
    checkout, and let Python workers import ``kaer_spark`` from it."""
    for sub in ("tmp", "spark-local", "jvm-diag"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_JVM_DIAG_DIR"] = os.path.join(work, "jvm-diag")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def start_spark(spec: dict, work: str, cores: int):
    from kaer_spark.session import get_spark

    retained = "1000000"
    heap = spec["driver_memory"]
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            # initial heap = maximum heap: the resident set then does not
            # depend on when the collector chose to grow the heap
            "spark.driver.memory": heap,
            "spark.driver.extraJavaOptions": (
                f"-Xms{heap} -XX:-UseDynamicNumberOfCompilerThreads "
                f"-XX:ErrorFile={os.path.join(work, 'jvm-diag', 'hs_err_pid%p.log')}"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the traced run reads every job of the run from the status store
            "spark.ui.retainedJobs": retained,
            "spark.ui.retainedStages": retained,
            "spark.sql.ui.retainedExecutions": retained,
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Loop:
    """The closed loop: runs requests, times them, runs their checks
    outside the timed region and counts failures."""

    def __init__(self, wl, tracer, name: str, jvm_pid: int):
        self.wl = wl
        self.jvm_pid = jvm_pid
        self.tracer = tracer
        self.name = name
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.samples: list[dict] = []  # successful measured requests

    def run(self, i: int, traced: bool) -> dict | None:
        self.attempted += 1
        self.tracer.active = traced
        try:
            cpu0 = work_cpu_s(os.getpid(), self.jvm_pid)
            t0 = time.perf_counter()
            with self.tracer.op(self.name):
                res, checker = self.wl.request(i)
            lat = time.perf_counter() - t0
            cpu = work_cpu_s(os.getpid(), self.jvm_pid) - cpu0
            self.tracer.active = False
            checker()
        except Exception as e:  # a failed request is counted, the loop goes on
            self.tracer.active = False
            self.failed += 1
            self.failures.append(f"request {i}: {type(e).__name__}: {e}")
            log(self.failures[-1])
            traceback.print_exc(file=sys.stderr)
            return None
        return {"i": i, "kind": res.kind, "latency_s": lat, "cpu_s": cpu, "items": res.items,
                "recall": res.recall, "parts": res.parts, "traced": traced}

    def measure(self, seconds: float, trace: bool) -> None:
        cycle = len(self.wl.mix)
        busy, i, wall0 = 0.0, 0, time.perf_counter()
        # a run stops once `seconds` of request time are measured and every
        # kind has run; the metrics weight each kind by the mix, not by the
        # requests run. A traced run alternates traced and untraced requests
        # (flipping the phase each cycle, so every kind gets both) and runs
        # at least two cycles. The wall cap bounds a stalled run.
        least = cycle * (2 if trace else 1)
        while True:
            traced = trace and ((i % cycle) + (i // cycle)) % 2 == 1
            s = self.run(i, traced)
            if s is not None:
                self.samples.append(s)
                busy += s["latency_s"]
            i += 1
            if busy >= seconds and i >= least:
                break
            if time.perf_counter() - wall0 > 2 * seconds + 60:
                log("wall-time cap reached")
                break


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mix_figures(samples: list[dict], mix: list[str], field: str) -> tuple[float, float]:
    """(per request, items per second) of the cost ``field`` of requests.

    The first is the geometric mean over the kinds of the mix of each
    kind's median cost; the second is the items of one cycle of the mix
    over the cycle's cost, each slot costing its kind's median. A median per
    kind keeps the figures off the boundary between a cheap and a dear kind,
    where the median of the whole mix would jump."""
    cost: dict[str, list[float]] = {}
    items: dict[str, int] = {}
    for s in samples:
        cost.setdefault(s["kind"], []).append(s[field])
        items[s["kind"]] = s["items"]
    mix = [k for k in mix if k in cost]  # the caller fails a run that lacks a kind
    if not mix:
        return 0.0, 0.0
    med = {k: statistics.median(v) for k, v in cost.items()}
    per_op = math.exp(statistics.fmean(math.log(med[k]) for k in sorted(set(mix))))
    return per_op, sum(items[k] for k in mix) / sum(med[k] for k in mix)


def overhead_s(samples: list[dict]) -> float:
    """Median traced minus median untraced latency per request kind,
    weighted by the kind's share of requests."""
    total = weight = 0.0
    for kind in {s["kind"] for s in samples}:
        on = [s["latency_s"] for s in samples if s["kind"] == kind and s["traced"]]
        off = [s["latency_s"] for s in samples if s["kind"] == kind and not s["traced"]]
        if on and off:
            n = len(on) + len(off)
            total += n * (statistics.median(on) - statistics.median(off))
            weight += n
    return total / weight if weight else 0.0


def detail(samples: list[dict]) -> dict:
    """The workload-level figures behind the end-to-end metrics."""
    by_kind: dict[str, list[float]] = {}
    parts: dict[str, list[float]] = {}
    for s in samples:
        by_kind.setdefault(s["kind"], []).append(s["latency_s"])
        for k, v in s["parts"].items():
            parts.setdefault(k, []).append(v)
    recall = [r for s in samples for r in s["recall"]]
    out = {
        "samples": len(samples),
        "latency_s": [[s["kind"], round(s["latency_s"], 4)] for s in samples],
        "p50_s_by_kind": {k: _p50(v) for k, v in sorted(by_kind.items())},
        "cpu_p50_s_by_kind": {k: _p50([s["cpu_s"] for s in samples if s["kind"] == k])
                              for k in sorted(by_kind)},
        "count_by_kind": {k: len(v) for k, v in sorted(by_kind.items())},
        "p50_s_by_call": {k: _p50(v) for k, v in sorted(parts.items())},
        "ann_recall_at_10": statistics.fmean(recall) if recall else None,
    }
    lat = sorted(s["latency_s"] for s in samples)
    # the highest percentile with at least ten samples beyond it
    if len(lat) >= 20:
        q = 100 * (1 - 10 / len(lat))
        out["tail"] = {"percentile": round(q, 1), "value_s": lat[int(len(lat) * q / 100) - 1]}
    return out


def main(argv: list[str] | None = None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: the benchmark's own test")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kaer_spark", "__init__.py")):
        log(f"kaer_spark/ not found under {ROOT}: run from a kaer-spark checkout")
        return 2
    work = os.path.join(STATE, "work")
    shutil.rmtree(work, ignore_errors=True)
    isolate_environment(work)
    before = host_stamp()
    t0 = time.perf_counter()
    spark = start_spark(spec, work, before["nproc"])
    session_s = time.perf_counter() - t0
    try:
        report = run(spark, spec, args, work, session_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    report["host_before"], report["host_after"] = before, host_stamp()
    os.makedirs(os.path.join(STATE, "reports"), exist_ok=True)
    path = os.path.join(
        STATE, "reports", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    )
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    res = report["result"]
    log(f"{args.workload} seed={args.seed} trace={args.trace}: correct={res['correct']} "
        f"attempted={res['attempted']} failed={res['failed']} report={path}")
    print(json.dumps(res))
    return 0 if res["correct"] else 1


def run(spark, spec: dict, args, work: str, session_s: float) -> dict:
    from perfbench import workloads
    from perfbench.tracing import Tracer

    sc = spark.sparkContext
    jvm = sc._jvm
    env = {
        "cores_used": sc.defaultParallelism,
        "nproc": len(os.sched_getaffinity(0)),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
    conf = spec["workloads"][args.workload]
    tracer = Tracer(spark)
    wl = workloads.WORKLOADS[args.workload](
        spark, tracer, work, conf["sizes"][args.size], args.seed
    )
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    loop = Loop(wl, tracer, args.workload, jvm_pid)
    if args.trace:
        tracer.install()
        tracer.active = True
    t = time.perf_counter()
    wl.setup()
    build_s = time.perf_counter() - t
    t = time.perf_counter()
    try:
        wl.warm_up()
        if not args.trace:
            reference_cpu_s(spark, jvm_pid)  # its cold run
    except Exception as e:  # counted like a failed request
        loop.attempted += 1
        loop.failed += 1
        loop.failures.append(f"warm-up: {type(e).__name__}: {e}")
        traceback.print_exc(file=sys.stderr)
    warm_s = time.perf_counter() - t
    tracer.active = False
    setup_s = session_s + build_s + warm_s

    # the host's speed of the moment, taken around the loop; the traced
    # run reports no cost metric and skips it
    refs = [] if args.trace else [reference_cpu_s(spark, jvm_pid) for _ in range(REFERENCE_RUNS)]
    loop.measure(args.seconds, bool(args.trace))
    if not args.trace:
        refs += [reference_cpu_s(spark, jvm_pid) for _ in range(REFERENCE_RUNS)]
    samples = loop.samples
    storage = wl.storage()
    rss_mb = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0
    stored, input_bytes = wl.stored_and_input_bytes()
    recall = [r for s in samples for r in s["recall"]]
    missing = sorted(set(wl.mix) - {s["kind"] for s in samples})
    if missing:  # the mix figures need every kind
        loop.failed += 1
        loop.failures.append(f"no successful request of kind {missing}")
    report = {
        "args": vars(args),
        "env": env,
        "sizes": conf["sizes"][args.size],
        "setup": {"session_s": session_s, "build_s": build_s, "warm_up_s": warm_s},
        "detail": detail(samples),
        # the unscaled figures behind op_cost_ref and items_per_ref
        "reference_cpu_s": refs,
        "op_cpu_s_and_items_per_cpu_s": mix_figures(samples, wl.mix, "cpu_s"),
        "op_s_and_items_per_s": mix_figures(samples, wl.mix, "latency_s"),
        "storage": storage,
        "stored_bytes": stored,
        "input_bytes": input_bytes,
        "failures": loop.failures,
    }
    if args.trace:
        tracer.uninstall()
        values, report["trace"] = tracer.layer_metrics(
            overhead_s(samples), storage,
            statistics.fmean(recall) if recall else 0.0, session_s,
        )
        wanted = spec["per_layer"]
    else:
        op_cpu_s, items_per_cpu_s = mix_figures(samples, wl.mix, "cpu_s")
        ref = statistics.median(refs)
        values = {
            "setup_s": setup_s,
            "op_cost_ref": op_cpu_s / ref,
            "items_per_ref": items_per_cpu_s * ref,
            "stored_bytes_per_input_byte": stored / input_bytes,
            "peak_rss_mb": rss_mb,
        }
        wanted = spec["end_to_end"]
    correct = loop.failed == 0 and env["cores_used"] == env["nproc"]
    if env["cores_used"] != env["nproc"]:
        loop.failures.append(f"cores used {env['cores_used']} != nproc {env['nproc']}")
    report["result"] = {
        "correct": correct,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted},
    }
    return report


if __name__ == "__main__":
    raise SystemExit(main())
