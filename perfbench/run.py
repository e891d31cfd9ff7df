"""End-to-end benchmark of the churn flow and the LLM-corpus path, on
``local[nproc]``.

    python3 perfbench/run.py --workload churn_e2e --seed 1 --seconds 8 --trace 0

One run is one workload in one fresh process, a closed loop with one
client: import the registry, build the inputs and their twins from the
seed, start the Spark session ``SESSION_STARTS`` times (a fresh driver JVM
each time) and keep the last, run the cold pass, ``WARMUP[workload]`` warm-up
passes and then recorded passes for ``--seconds`` (at least ``MIN_RECORDED``).
Every pass is checked before the next starts; the checks that need Spark
run once, after the recorded passes. With ``--trace 0`` the last stdout
line carries the end-to-end metrics; with ``--trace 1`` the recorded
passes are untraced and traced in ABBA order, a traced ``corpus_e2e`` run
then times ``QUERY_ROUNDS`` rounds of the registry's query operators, the
last line carries the per-layer metrics and the spans go to one JSON file
under ``perfbench/.work``. See ``perfbench/METHOD.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # before any heavy import: set-up is timed from here

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PKG = "morphl_model_publishers_churning_users_spark"
NAMES = ("churn_e2e", "corpus_e2e")

sys.path.insert(0, HERE)
import probes  # noqa: E402  (standard library only)

SESSION_STARTS = 2
# Warm passes run and checked but not recorded, per workload, chosen from
# the per-pass curves in METHOD.md: the JIT is still compiling the pass's
# code paths over these, and pass times fall; corpus_e2e's shorter passes
# are still falling steeply at its fourth.
WARMUP = {"churn_e2e": 2, "corpus_e2e": 3}
MIN_RECORDED = 2
TRACE_MIN_RECORDED = 4  # traced runs record untraced, traced, traced, untraced, ...
# Traced runs of this workload also time the query operators, after the
# recorded passes; the first round is a warm-up.
QUERY_WORKLOAD = "corpus_e2e"
QUERY_ROUNDS = 3
DEADLINE_S = 160.0  # start no pass that would end after this: a run ends within 3 minutes

UNITS = {"setup_s": "s", "cold_s": "s", "wall_s": "s", "cpu_s": "s", "peak_mem_mb": "MB"}
# The gated end-to-end metrics: the end-to-end readings that repeated
# within a tenth of their median in every set of runs measured. The others
# are reported with the per-layer metrics (METHOD.md, "End-to-end metrics").
END_TO_END = ("setup_s", "peak_mem_mb")


def cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def configure_env() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    size the driver from host RAM, and bound the status store's history."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    driver_gb = max(1, min(4, int(mem_total_gb() // 6)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_GRAFT_EXTRA_CONFS": ";".join([
            # More jobs and stages than a run makes, so every one stays in
            # the store; a traced span reads its stages when it closes, and
            # one found evicted fails the run.
            "spark.ui.retainedJobs=5000",
            "spark.ui.retainedStages=5000",
            "spark.ui.showConsoleProgress=false",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        ]),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })


def teardown(spark) -> None:
    """Stop the session and wait for the driver JVM to exit, so the next
    session start launches a fresh one."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def start_sessions(n: int):
    """Start the session ``n`` times, each in a fresh driver JVM; return the
    last session and every start's duration."""
    from morphl_model_publishers_churning_users_spark.session import build_session

    starts = []
    for k in range(n):
        t0 = time.perf_counter()
        spark = build_session("perfbench")
        starts.append(time.perf_counter() - t0)
        if k < n - 1:
            teardown(spark)
    return spark, starts


def package_hash() -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        dirnames.sort()
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), "rb") as f:
                    h.update(fn.encode() + f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def tail(values: list[float]) -> float:
    """The highest percentile with at least ten passes beyond it; with ten
    passes or fewer, the slowest pass."""
    v = sorted(values)
    return v[len(v) - 11] if len(v) > 10 else v[-1]


class Pass:
    """Counters of one pass, read before and after it, outside its timing."""

    def __init__(self, probe):
        self.probe = probe
        self.cpu0 = probes.cpu_tree(os.getpid(), probe.pid)
        self.jit0, self.gc0, self.steal0 = probe.jit_s(), probe.gc_s(), probes.steal_s()
        self.rss0 = probes.py_rss_mb()
        probes.reset_py_peak()
        self.t0 = time.perf_counter()

    def end(self) -> dict:
        wall = time.perf_counter() - self.t0
        probe = self.probe
        cpu1 = probes.cpu_tree(os.getpid(), probe.pid)
        rec = {
            "wall_s": wall,
            "cpu_s": cpu1["total"] - self.cpu0["total"],
            "driver_py.cpu_s": cpu1["driver_py"] - self.cpu0["driver_py"],
            "jvm.cpu_s": cpu1["jvm"] - self.cpu0["jvm"],
            "pyworker.cpu_s": cpu1["pyworker"] - self.cpu0["pyworker"],
            "jvm.jit_s": probe.jit_s() - self.jit0,
            "jvm.gc_s": probe.gc_s() - self.gc0,
            "steal_s": probes.steal_s() - self.steal0,
            "py_grow_mb": max(0.0, probes.py_peak_mb() - self.rss0),
        }
        rec.update({f"spark.{k}": v for k, v in probe.new_jobs().items()})
        rec["cached_mb"] = probe.cached_mb()  # the status store is drained by new_jobs
        return rec


def one_workload(args) -> dict:
    sys.path.insert(0, ROOT)
    # The session module imports PySpark: part of the interpreter's start.
    from morphl_model_publishers_churning_users_spark import session  # noqa: F401

    t_reg = time.perf_counter()
    boot_s = t_reg - T_START
    from morphl_model_publishers_churning_users_spark.registry import get_queries

    get_queries()
    registry_s = time.perf_counter() - t_reg

    from spans import COUNTERS, Tracer
    from workloads import WORKLOADS, QueryOps

    data = os.path.join(WORK, "data")
    run_dir = os.path.join(WORK, f"run{os.getpid()}")
    os.makedirs(data, exist_ok=True)
    wl = WORKLOADS[args.workload](run_dir, data, args.seed)
    qo = QueryOps(data, args.seed) if args.trace and args.workload == QUERY_WORKLOAD else None
    t_inputs = time.perf_counter()

    load_before, steal_before = probes.loadavg(), probes.steal_s()
    spark, starts = start_sessions(SESSION_STARTS)
    wl.spark = spark
    if qo is not None:
        qo.spark = spark
    probe = probes.JvmProbe(spark)
    session_s = statistics.median(starts)
    setup = {"setup_s": boot_s + registry_s + session_s, "python.boot_s": boot_s,
             "registry.import_s": registry_s, "session.start_s": session_s,
             "session.starts_s": starts, "inputs_s": t_inputs - t_reg - registry_s}
    phases = {"sessions": time.perf_counter() - T_START}

    tr = Tracer(spark, probe, enabled=bool(args.trace), cores=cores())
    off = Tracer(spark, probe, enabled=False, cores=cores())
    min_rec = TRACE_MIN_RECORDED if args.trace else MIN_RECORDED
    warmup = WARMUP[args.workload]

    passes, quality = [], []
    attempted = failed = 0
    last_out = None
    last_s = 0.0
    t_rec = None
    i = 0
    while True:
        k = i - 1 - warmup  # index among the recorded passes
        if k >= min_rec and time.perf_counter() - t_rec >= args.seconds:
            break
        if i > 0 and time.perf_counter() - T_START + 1.5 * last_s > DEADLINE_S:
            break
        # Traced runs record in ABBA order, so a drift along the run cancels
        # out of the tracing overhead.
        traced = bool(args.trace) and k >= 0 and k % 4 in (1, 2)
        attempted += 1
        out = None
        t0 = time.perf_counter()
        try:
            meter = Pass(probe)
            out = wl.run_pass(tr if traced else off, i)
            rec = meter.end()
            rec.update(i=i, kind="cold" if i == 0 else "warmup" if k < 0 else "recorded",
                       traced=traced)
            quality.append(wl.check(out))
            rec["live_heap_mb"] = probe.live_heap_mb()  # a full collection between passes
            passes.append(rec)
        except Exception:
            failed += 1
            traceback.print_exc()
        if last_out is not None:
            wl.cleanup(last_out)
        last_out = out
        last_s = time.perf_counter() - t0
        if k == -1:
            t_rec = time.perf_counter()
            phases["warmup"] = t_rec - T_START
        i += 1
    phases["recorded"] = time.perf_counter() - T_START

    # The query operators, in rounds after the recorded passes, so they
    # change no pass of the workload; each round is checked.
    query_ids, counts = [], None
    for r in range(QUERY_ROUNDS if qo is not None else 0):
        qid = i + r
        attempted += 1
        try:
            counts = qo.run_round(tr, qid)
            qo.check(counts)
            if r > 0:
                query_ids.append(qid)
        except Exception:
            failed += 1
            traceback.print_exc()
    phases["queries"] = time.perf_counter() - T_START

    final = {}
    if last_out is not None:
        try:
            final = wl.final_check(last_out)
            if qo is not None:
                final["negative_control_caught"] &= counts is not None and qo.final_check(counts)
        except Exception:
            failed += 1
            traceback.print_exc()
        wl.cleanup(last_out)
    phases["final_check"] = time.perf_counter() - T_START
    tr.finish()
    shutil.rmtree(run_dir, ignore_errors=True)
    teardown(spark)
    phases["teardown"] = time.perf_counter() - T_START

    med = statistics.median
    rec_passes = [p for p in passes if p["kind"] == "recorded"]
    plain = [p for p in rec_passes if not p["traced"]]
    traced_p = [p for p in rec_passes if p["traced"]]
    cold = [p for p in passes if p["kind"] == "cold"]
    fail_ratio = failed / attempted
    controls_ok = bool(final.get("negative_control_caught"))
    correct = (failed == 0 and controls_ok and tr.evicted_stages == 0 and bool(plain)
               and (not args.trace or bool(traced_p)) and bool(cold))
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": cores(), "ram_gb": round(mem_total_gb(), 2),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": __import__("pyspark").__version__, "python": platform.python_version(),
        "git_commit": git_commit(), "package_sha256": package_hash(),
        "warmup_passes": warmup, **setup,
        "load_before": load_before, "load_after": probes.loadavg(),
        "steal_s": probes.steal_s() - steal_before,
        "events_bytes": getattr(wl, "events_bytes", None),
        "attempted": attempted, "failed": failed, "fail_ratio": fail_ratio,
        "negative_control_caught": controls_ok, "evicted_stages": tr.evicted_stages,
        "aucs": final.get("aucs"), "phases_s": phases, "passes": passes,
        "correct": correct,
    }

    def mem(p):
        return p["spark.exec_peak_mb"] + p["py_grow_mb"]

    def med_of(key, ps):
        return med(p[key] for p in ps) if ps else 0.0

    e2e = {
        "setup_s": setup["setup_s"],
        "cold_s": cold[0]["wall_s"] if cold else 0.0,
        "wall_s": med_of("wall_s", plain),
        "cpu_s": med_of("cpu_s", plain),
        "peak_mem_mb": med(mem(p) for p in plain) if plain else 0.0,
    }
    if args.trace:
        # End-to-end readings that are not gated are reported with the layers.
        shown = {k: (v, UNITS[k]) for k, v in e2e.items() if k not in END_TO_END}
        shown.update(layer_metrics(wl, tr, setup, quality, final, COUNTERS, traced_p))
        shown.update(query_metrics(tr, query_ids))
        shown.update({
            "wall_tail_s": (tail([p["wall_s"] for p in plain]) if plain else 0.0, "s"),
            "trace.overhead_s": (med_of("wall_s", traced_p) - med_of("wall_s", plain)
                                 if plain and traced_p else 0.0, "s"),
            "fail_ratio": (fail_ratio, "ratio"),
            "spark.evicted_stages": (tr.evicted_stages, "count"),
        })
        with open(os.path.join(WORK, f"trace_{args.workload}_s{args.seed}.json"), "w") as f:
            json.dump({"run": record, "spans": tr.records()}, f)
    else:
        shown = {k: (e2e[k], UNITS[k]) for k in END_TO_END}
        for k in UNITS:
            if k not in END_TO_END:
                print(f"{args.workload:<11} {k:<34} {e2e[k]:>14.6g} {UNITS[k]}  (not gated)")
    with open(os.path.join(WORK, f"run_{args.workload}_s{args.seed}_t{args.trace}.json"), "w") as f:
        json.dump(record, f)

    for name, (v, u) in shown.items():
        print(f"{args.workload:<11} {name:<34} {v:>14.6g} {u}")
    print(f"{args.workload:<11} {'passes':<34} cold + {warmup} warm-up + {len(rec_passes)} recorded,"
          f" {failed} of {attempted} failed")
    print(json.dumps(record))
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}


LAYER_SPANS = {
    # metric: (span name, counter) -- "dur" is the span's duration
    "catalog.table_s": ("catalog.table", "dur"),
    "ga_source.land_s": ("ga_source.land", "dur"),
    "ga_source.land.bytes_written": ("ga_source.land", "spark.output_bytes"),
    "ga_source.parse_s": ("ga_source.parse", "dur"),
    "churn.run_s": ("churn.run", "dur"),
    "churn.features_s": ("churn.features", "dur"),
    "churn.fit_s": ("churn.fit", "dur"),
    "churn.fit.jobs": ("churn.fit", "spark.jobs"),
    "churn.fit.stages": ("churn.fit", "spark.stages"),
    "churn.fit.tasks": ("churn.fit", "spark.tasks"),
    "churn.fit.sched_gap_s": ("churn.fit", "spark.sched_gap_s"),
    "churn.fit.input_bytes": ("churn.fit", "spark.input_bytes"),
    "churn.score_s": ("churn.score", "dur"),
    "churn.score.bytes_written": ("churn.score", "spark.output_bytes"),
    "llm_corpus.run_s": ("llm_corpus.run", "dur"),
    "llm_corpus.bytes_written": ("llm_corpus.run", "spark.output_bytes"),
    "llm.dedup_fuzzy_s": ("llm.dedup_fuzzy", "dur"),
    "llm.dedup_fuzzy.shuffle_write_bytes": ("llm.dedup_fuzzy", "spark.shuffle_write_bytes"),
    "llm.simsearch_ann_s": ("llm.simsearch_ann", "dur"),
}
QUALITY = {
    "ga_source.rows_out": "count", "churn.fit.iterations": "count",
    "churn.users_scored": "count", "llm_corpus.keep_ratio": "ratio",
    "llm.dedup_fuzzy.pairs_out": "count", "llm.dedup_fuzzy.precision": "ratio",
    "llm.dedup_fuzzy.recall": "ratio", "llm.simsearch_ann.recall": "ratio",
}
PASS_CPU = ("driver_py.cpu_s", "jvm.cpu_s", "pyworker.cpu_s")


def _unit(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("bytes") or metric.endswith("bytes_written"):
        return "bytes"
    return "ratio" if metric.endswith("ratio") else "count"


def layer_metrics(wl, tr, setup, quality, final, counters, traced_passes) -> dict:
    """Medians over the traced recorded passes. Metrics of layers this
    workload never calls read 0."""
    med = statistics.median
    ids = {p["i"] for p in traced_passes}
    by_name: dict[str, list] = {}
    for s in tr.spans:
        if s.pass_id in ids:
            by_name.setdefault(s.name, []).append(s)
    out = {
        "session.start_s": (setup["session.start_s"], "s"),
        "registry.import_s": (setup["registry.import_s"], "s"),
    }
    for metric, (span, counter) in LAYER_SPANS.items():
        vals = [s.dur_s if counter == "dur" else s.counters[counter]
                for s in by_name.get(span, [])]
        out[metric] = (med(vals) if vals else 0.0, _unit(metric))
    for metric, unit in QUALITY.items():
        vals = [q[metric] for q in quality if metric in q]
        out[metric] = (med(vals) if vals else 0.0, unit)
    aucs = list((final.get("aucs") or {}).values())
    out["churn.eval_auc"] = (med(aucs) if aucs else 0.0, "ratio")
    roots = by_name.get(f"{wl.name}.pass", [])
    for c in counters:
        vals = [s.counters[c] for s in roots]
        out[c] = (med(vals) if vals else 0.0, _unit(c))
    for c in PASS_CPU:
        out[c] = (med(p[c] for p in traced_passes) if traced_passes else 0.0, "s")
    out["pass.self_s"] = (med(s.self_s for s in roots) if roots else 0.0, "s")
    return out


def query_metrics(tr, round_ids: list) -> dict:
    """``<module>.<key>_s``: each query operator's median time over the
    recorded query rounds; 0 where no round ran."""
    from workloads import query_spans

    ids = set(round_ids)
    out = {}
    for span in query_spans().values():
        vals = [s.dur_s for s in tr.spans if s.name == span and s.pass_id in ids]
        out[f"{span}_s"] = (statistics.median(vals) if vals else 0.0, "s")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: end-to-end + per-layer benchmark")
    ap.add_argument("--workload", choices=NAMES, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")) or not os.path.isfile(
            os.path.join(ROOT, "tests", "oracle_utils.py")):
        print(f"perfbench: {PKG}/ and tests/ must sit next to perfbench/", file=sys.stderr)
        return 2
    configure_env()
    os.chdir(ROOT)
    result = one_workload(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
