"""pql-spark benchmark: three closed-loop workloads, one client thread.

    python3 perfbench/run.py --workload pql_cached --seed 1 --seconds 12 --trace 0

Workloads (inputs frozen in ``perfbench/inputs/workloads.json``; data made
by ``perfbench/datagen.py``):

* ``pql_cached``   PQL text -> SQL -> Spark -> rows, over parquet tables of
                   which the caller persisted three.
* ``pql_compile``  PQL text -> SQL only (``compile_to_sql``), no Spark.
* ``curate_dedup`` the dedup/curation pipeline calls over ``documents``.

A run sets up from process start, runs one cold pass, then warm passes,
each in a fresh seed-permuted order, while the next one is expected to end
within ``--seconds`` (at least two).  Every op's
result is compared with its DuckDB oracle outside the timed section.  ``--trace 1`` alternates traced and untraced warm
passes and prints the per-layer metrics instead of the end-to-end ones.
The last stdout line is the JSON result; the full record (environment
stamp, failures by op, spans) goes to ``.bench_build/perfbench/records``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from datagen import SCALES  # noqa: E402

ROOT = HERE.parent
INPUTS = HERE / "inputs" / "workloads.json"
WORKLOADS = ("pql_cached", "pql_compile", "curate_dedup")
DATA_SEED = 42
# pql_compile sets up this many times per run (the first in this process,
# the others in fresh interpreters); setup_s is the median
COMPILE_SETUP_REPS = 5
DRIVER_MEM = "3g"
PIPELINES = ("minhash", "ngram", "clusters", "curate", "embedding")

END_TO_END = {
    "setup_s": "s", "first_pass_s": "s", "pass_s": "s",
    "op_p50_ms": "ms", "peak_rss_mb": "MB",
}
PER_LAYER = {
    "lexer.ms": "ms", "lexer.tokens": "count", "parser.ms": "ms",
    "sql_backend.ms": "ms", "sql_backend.refusals": "count",
    "sql_backend.sql_bytes": "bytes",
    "compiler.ms": "ms", "compiler.py4j_calls": "count",
    "engine.fallbacks": "count", "engine.query_ms": "ms",
    "engine.self_ms": "ms", "engine.py4j_calls": "count",
    "engine.close_ms": "ms", "spark.sql_call_ms": "ms",
    "spark.analysis_ms": "ms", "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms", "spark.exec_ms": "ms", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.task_busy_ms": "ms", "spark.core_idle_share": "fraction",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes", "collect.ms": "ms", "collect.rows": "count",
    **{
        f"operators.{p}.{m}": u
        for p in PIPELINES
        for m, u in (
            ("build_ms", "ms"), ("eager_jobs", "count"),
            ("py4j_calls", "count"), ("wall_ms", "ms"),
            ("first_build_ms", "ms"), ("first_eager_jobs", "count"),
        )
    },
    "cache.inmem_scan_share": "fraction", "cache.user_inputs_evicted": "count",
    "cache.entries_live": "count", "catalog.temp_views_live": "count",
    "catalog.temp_views_growth": "count", "jvm.peak_rss_mb": "MB",
    "jvm.heap_live_mb": "MB", "ops.failed_share": "fraction",
    "trace.overhead_share": "fraction", "trace.unspanned_share": "fraction",
}


class Op:
    """One query or pipeline call: ``fn(run)`` does the timed work and
    returns ``({output: (columns, rows, df)}, info)``; ``expected`` maps each
    output to its normalized oracle result."""

    def __init__(self, name, fn, tables=()):
        self.name = name
        self.fn = fn
        self.tables = tuple(tables)
        self.expected: dict = {}


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.traced_pass = False
        self.tracer = None
        self.build = ROOT / ".bench_build" / "perfbench"
        self.spark = None
        self.sc = None
        self.group = None
        self.frames: dict = {}
        self.records: list[dict] = []
        self.failures: dict[str, str] = {}
        self.snapshots: list[dict] = []

    def span(self, name):
        if self.traced_pass:
            return self.tracer.span(name)
        return nullcontext()


# ---------------------------------------------------------------- ops


def _pql_op(q):
    from pql_spark import PqlEngine

    def fn(run):
        eng = PqlEngine(run.spark, resolver=run.resolver)
        with run.span("engine"):
            res = eng.query(q["text"])
        outs = {}
        with run.span("collect"):
            for key in q["oracles"]:
                df = res[key] if q["multi"] else res
                outs[key] = (df.columns, df.collect(), df)
        with run.span("close"):
            eng.close()
        return outs, {"fallbacks": eng.sql_fallbacks}

    return Op(q["name"], fn, q["tables"])


def _compile_op(q):
    import pql_spark.sql_backend as sb
    from pql_spark.parser import QueryError

    def fn(run):
        try:
            if q["multi"]:
                sql = sb.compile_to_sql_multi(q["text"], run.columns)
            else:
                sql = sb.compile_to_sql(q["text"], run.columns)
        except QueryError as e:
            return {}, {"refused": str(e)}
        return {}, {"sql": sql}

    return Op(q["name"], fn, q["tables"])


def _curate_op(spec, inputs):
    from pyspark.sql import functions as F

    from pql_spark import PqlEngine
    from pql_spark import pipelines
    from pql_spark.operators import dedup

    dup = inputs["documents_with_dups"]
    minhash = next(c for c in inputs["curate"] if c["name"] == "minhash")

    def docs_with_dups(run):
        base = run.resolver("documents").select("doc_id", "text")
        dups = base.filter(F.col("doc_id") < dup["below"]).select(
            (F.col("doc_id") + dup["offset"]).alias("doc_id"),
            F.concat(F.col("text"), F.lit(dup["suffix"])).alias("text"),
        )
        return base.unionByName(dups)

    def build(run):
        kind = spec["input"]
        params = dict(spec["params"])
        if kind == "documents_with_dups":
            inp = docs_with_dups(run)
        elif kind == "minhash_pairs_unsorted":
            inp = dedup.minhash_dup_pairs(
                docs_with_dups(run), **dict(minhash["params"], sort_pairs=False)
            )
        else:
            inp = run.resolver(kind)
        if spec["name"] == "curate":
            params["benchmark"] = inp.filter(
                F.col("doc_id") % spec["benchmark_doc_id_mod"] == 0
            )
        module, func = spec["call"].split(".")
        out = getattr({"dedup": dedup, "pipelines": pipelines}[module], func)(
            inp, **params
        )
        if "select" in spec:
            out = out.select(*spec["select"])
        if "order_by" in spec:
            out = out.orderBy(spec["order_by"])
        return out

    def fn(run):
        info = {}
        with run.span(f"operators.{spec['name']}.build") as rec:
            df = build(run)
        if run.traced_pass:
            info["eager_jobs"] = len(job_ids(run))
            info["build_ms"] = (rec["t1"] - rec["t0"]) * 1e3
        with run.span("collect"):
            outs = {"main": (df.columns, df.collect(), df)}
        with run.span("close"):
            PqlEngine(run.spark).close()
        return outs, info

    return Op(spec["name"], fn, ["documents"])


def make_ops(run) -> list[Op]:
    inputs = run.inputs
    by_name = {q["name"]: q for q in inputs["pql"]}
    if run.workload == "pql_compile":
        return [_compile_op(q) for q in inputs["pql"]]
    if run.workload == "curate_dedup":
        return [_curate_op(c, inputs) for c in inputs["curate"]]
    return [_pql_op(by_name[n]) for n in inputs[run.workload]]


# ---------------------------------------------------------------- setup


def _environment(run) -> None:
    build = run.build
    for d in ("spark-local", "tmp", "records"):
        (build / d).mkdir(parents=True, exist_ok=True)
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    os.environ["SPARK_GRAFT_CPUS"] = str(run.nproc)
    os.environ["SPARK_LOCAL_DIRS"] = str(build / "spark-local")
    os.environ["TMPDIR"] = str(build / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )


def _start_spark(run) -> None:
    from pql_spark.sources import build_session, parquet_catalog

    tmp = run.build / "tmp"
    run.spark = build_session(
        "perfbench",
        master=f"local[{run.nproc}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(run.build / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
                " -XX:-UsePerfData",
        },
    )
    run.spark.sparkContext.setLogLevel("ERROR")
    run.sc = run.spark.sparkContext
    catalog = parquet_catalog(run.spark, run.data_dir)
    run.frames = {}
    if run.workload == "pql_cached":
        for t in run.inputs["cached_tables"]:
            run.frames[t] = catalog(t).persist()
            run.frames[t].count()

    def resolve(name):
        return run.frames[name] if name in run.frames else catalog(name)

    run.resolver = resolve


def _read_columns(data_dir: Path) -> dict[str, list[str]]:
    import pyarrow.parquet as pq

    from datagen import TABLES

    return {
        t: pq.read_schema(data_dir / f"{t}.parquet").names for t in TABLES
    }


def _fresh_compile_pass(run, k: int, order: list[str]) -> float:
    """Run ``pql_compile``'s set-up and one checked cold pass in ``order``
    in a fresh interpreter (this script with ``--fresh-pass``); add its op
    records and failures to this run and return its set-up seconds.
    Called after the warm passes, so the cold passes of one run are spread
    over its whole length rather than over the few seconds after launch."""
    a = run.args
    out = subprocess.run(
        [sys.executable, str(Path(__file__).resolve()),
         "--workload", run.workload, "--seed", str(a.seed),
         "--seconds", str(a.seconds), "--scale", a.scale,
         "--fresh-pass", f"cold{k}"],
        input=json.dumps({"order": order, "first_sql": run.first_sql}),
        check=True, capture_output=True, text=True, timeout=120,
    )
    res = json.loads(out.stdout.strip().splitlines()[-1])
    run.records.extend(res["records"])
    for name, why in res["failures"].items():
        run.failures.setdefault(name, why)
    return res["setup_s"]


def fresh_pass(run, ops) -> int:
    """The fresh interpreter's side of ``_fresh_compile_pass``: the order
    and the parent's first-pass SQL come on stdin; prints the set-up
    seconds, the op records and the failures as one JSON line."""
    job = json.loads(sys.stdin.read())
    setup_s = setup(run)[0]
    load_oracles(run, ops)
    run.first_sql = job["first_sql"]
    index = {op.name: i for i, op in enumerate(ops)}
    run_pass(run, ops, [index[n] for n in job["order"]],
             run.args.fresh_pass, traced=False)
    print(json.dumps({"setup_s": setup_s, "records": run.records,
                      "failures": run.failures}))
    return 0


def setup(run) -> list[float]:
    """Set up once, counting from process start (imports, JVM launch,
    session, catalog, persisted inputs), and return ``[seconds]``.  A
    second Spark set-up would need a second JVM launch, which the run's
    time budget has no room for; ``pql_compile`` repeats its set-up in
    fresh interpreters after the warm passes (see
    ``_fresh_compile_pass``)."""
    import datagen

    t_data = time.perf_counter()
    run.data_dir = datagen.ensure(run.build / "data", run.args.scale, DATA_SEED)
    run.datagen_s = time.perf_counter() - t_data
    if run.workload == "pql_compile":
        import pql_spark.sql_backend  # noqa: F401

        run.columns = _read_columns(run.data_dir)
    else:
        _start_spark(run)
    return [time.perf_counter() - T_PROCESS - run.datagen_s]


def load_oracles(run, ops) -> None:
    """Expected results: DuckDB over the same parquet files (Spark
    workloads); the frozen refusal list (``pql_compile``)."""
    from oracle import Oracle

    if run.workload == "pql_compile":
        refused = {q["name"] for q in run.inputs["pql"] if q["refused"]}
        for op in ops:
            op.expected = {"refused": op.name in refused}
        return
    specs = {q["name"]: q["oracles"] for q in run.inputs["pql"]}
    specs.update({c["name"]: {"main": c["oracle"]} for c in run.inputs["curate"]})
    oracle = Oracle(run.data_dir)
    try:
        for op in ops:
            op.expected = {
                k: oracle.expected(sql) for k, sql in specs[op.name].items()
            }
    finally:
        oracle.close()


# ---------------------------------------------------------------- passes


def check(op, outs, info, first_sql: dict) -> str | None:
    """Why the op's result is wrong, or None.  Runs outside the timing."""
    from oracle import mismatch, normalize

    if "sql" in info or "refused" in info:
        if op.expected["refused"]:
            return None if "refused" in info else "expected a refusal"
        if "refused" in info:
            return f"refused: {info['refused']}"
        sql = info["sql"]
        if not sql:
            return "empty SQL"
        if first_sql.setdefault(op.name, sql) != sql:
            return "SQL differs from the first pass"
        return None
    for key, exp in op.expected.items():
        cols, rows, _ = outs[key]
        try:
            got = normalize(cols, [tuple(r) for r in rows])
        except TypeError as e:
            return f"{key}: {e}"
        why = mismatch(got, exp)
        if why:
            return f"{key}: {why}"
    return None


def job_ids(run) -> list[int]:
    return list(run.sc.statusTracker().getJobIdsForGroup(run.group))


def spark_stats(run, outs) -> dict:
    """Jobs, stages, tasks and SQL-phase times of one traced op, read from
    Spark's status store and query-execution trackers after the op."""
    st = run.sc._jsc.sc().statusStore()
    s = dict.fromkeys(
        ("exec_ms", "jobs", "stages", "tasks", "task_busy_ms",
         "shuffle_write_bytes", "spill_bytes", "input_bytes",
         "analysis_ms", "optimization_ms", "planning_ms"), 0)
    for jid in job_ids(run):
        job = st.job(jid)
        s["jobs"] += 1
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            s["exec_ms"] += done.get().getTime() - sub.get().getTime()
        sids = job.stageIds()
        for i in range(sids.size()):
            try:
                sd = st.lastStageAttempt(sids.apply(i))
            except Exception:  # noqa: BLE001 — stage skipped or evicted
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            s["stages"] += 1
            s["tasks"] += sd.numCompleteTasks()
            s["task_busy_ms"] += sd.executorRunTime()
            s["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            s["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            s["input_bytes"] += sd.inputBytes()
    inmem = False
    for _, _, df in outs.values():
        qe = df._jdf.queryExecution()
        phases = qe.tracker().phases()
        for p in ("analysis", "optimization", "planning"):
            o = phases.get(p)
            if o.isDefined():
                s[f"{p}_ms"] += o.get().durationMs()
        inmem = inmem or "InMemoryTableScan" in qe.executedPlan().toString()
    s["inmem_scan"] = inmem
    return s


def run_pass(run, ops, order, label: str, traced: bool) -> None:
    run.traced_pass = traced
    if traced:
        run.tracer.install()
    try:
        for i in order:
            op = ops[i]
            rec = {"op": op.name, "pass": label, "traced": traced,
                   "tables": list(op.tables)}
            if run.spark is not None and traced:
                run.group = f"pb-{label}-{i}"
                run.sc.setJobGroup(run.group, op.name)
            if traced:
                run.tracer.op = f"{label}/{op.name}"
            t0 = time.perf_counter()
            try:
                outs, info = op.fn(run)
                error = None
            except Exception as e:  # noqa: BLE001 — counted as a failed op
                outs, info, error = {}, {}, f"raised {type(e).__name__}: {e}"
            rec["wall_ms"] = (time.perf_counter() - t0) * 1e3
            if traced:
                run.tracer.op = None
            if error is None:
                error = check(op, outs, info, run.first_sql)
            if error is None and traced and run.spark is not None:
                rec["spark"] = spark_stats(run, outs)
            if error is not None:
                run.failures.setdefault(op.name, error.splitlines()[0][:300])
                if run.spark is not None:
                    from pql_spark import PqlEngine

                    PqlEngine(run.spark).close()
            rec["failed"] = error is not None
            rec["rows"] = sum(len(o[1]) for o in outs.values())
            sql = info.pop("sql", None) or ""
            rec["sql_bytes"] = sum(
                len(s.encode())
                for s in (sql.values() if isinstance(sql, dict) else [sql]))
            rec.update(info)
            run.records.append(rec)
        if traced and run.spark is not None:
            run.sc.setJobGroup("pb-idle", "")
    finally:
        run.traced_pass = False
        if traced:
            run.tracer.uninstall()
    if run.spark is not None:
        run.snapshots.append(_registry_snapshot(run, label))


def _pin_single_threaded(run, n: int) -> None:
    """Pin ``pql_compile`` (one thread, no JVM) to the n-th CPU in turn.
    On a virtual host one vCPU can run 1.5x slower than another for
    seconds at a time; rotating spreads each op's runs over all of them,
    and the fastest run per op then does not depend on where the
    scheduler happened to leave the process."""
    if run.workload == "pql_compile":
        cpus = sorted(run.cpus)
        os.sched_setaffinity(0, {cpus[n % len(cpus)]})


def _registry_snapshot(run, label) -> dict:
    tables = run.spark.catalog.listTables()
    return {
        "pass": label,
        "cache_entries": run.sc._jsc.getPersistentRDDs().size(),
        "temp_views": sum(1 for t in tables if t.isTemporary),
    }


def _evicted_user_inputs(run) -> int:
    """Persisted user inputs the cache manager no longer holds."""
    if not run.frames:
        return 0
    cm = run.spark._jsparkSession.sharedState().cacheManager()
    return sum(
        1 for f in run.frames.values()
        if not cm.lookupCachedData(f._jdf).isDefined()
    )


# ---------------------------------------------------------------- metrics


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def _pctl(xs, q):
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = max(0, min(len(xs) - 1, round(q * len(xs) + 0.5) - 1))
    return xs[k]


def _best_walls(run, traced: bool) -> dict[str, float]:
    """Each op's fastest warm run (ms) among passes of the given kind."""
    best: dict[str, float] = {}
    for r in run.records:
        if not r["pass"].startswith("cold") and r["traced"] == traced:
            best[r["op"]] = min(best.get(r["op"], r["wall_ms"]), r["wall_ms"])
    return best


def _best_cold(run) -> dict[str, float]:
    """Each op's fastest cold run (ms): the cold pass of this process and,
    for ``pql_compile``, those of the fresh interpreters."""
    best: dict[str, float] = {}
    for r in run.records:
        if r["pass"].startswith("cold"):
            best[r["op"]] = min(best.get(r["op"], r["wall_ms"]), r["wall_ms"])
    return best


def _program_pids(run) -> list:
    """The processes whose memory is the program's: this one and, for the
    Spark workloads, the JVM."""
    return ["self"] + ([run.sc._gateway.proc.pid] if run.spark else [])


def _reset_peak_rss(pid: int | str = "self") -> None:
    """Restart the kernel's peak-RSS count (VmHWM) of a process, so the
    peaks read later cover the passes and not set-up or the DuckDB
    oracles."""
    try:
        Path(f"/proc/{pid}/clear_refs").write_text("5")
    except OSError:  # not permitted here: the peak then counts from launch
        pass


def _peak_rss_mb(pid: int | str = "self") -> float:
    status = Path(f"/proc/{pid}/status").read_text()
    return next(int(line.split()[1]) for line in status.splitlines()
                if line.startswith("VmHWM:")) / 1024


def _jvm_memory(run) -> dict:
    """Peak RSS of the JVM process over all passes and its live heap after
    a full GC."""
    if run.spark is None:
        return {"jvm.peak_rss_mb": 0.0, "jvm.heap_live_mb": 0.0}
    peak = _peak_rss_mb(run.sc._gateway.proc.pid)
    jvm = run.sc._jvm
    jvm.System.gc()
    rt = jvm.Runtime.getRuntime()
    return {
        "jvm.peak_rss_mb": peak,
        "jvm.heap_live_mb": (rt.totalMemory() - rt.freeMemory()) / 2**20,
    }


def end_to_end(run, setup_reps) -> dict:
    """Each op is read at its fastest untraced warm run (and, for the first
    pass of ``pql_compile``, its fastest of five cold runs): on a shared
    host the same pass can run 1.5x slower for seconds at a time when
    neighbours are busy, and the fastest run is the steadiest estimate of
    the program's own cost."""
    best = list(_best_walls(run, traced=False).values())
    return {
        "setup_s": statistics.median(setup_reps),
        "first_pass_s": sum(_best_cold(run).values()) / 1e3,
        "pass_s": sum(best) / 1e3,
        "op_p50_ms": _median(best),
        "peak_rss_mb": run.peak_rss_mb,
    }


def per_layer(run) -> dict:
    from spans import self_times

    spans = self_times(run.tracer.spans)
    m: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
    traced_passes = sorted({r["pass"] for r in run.records
                            if r["traced"] and r["pass"] != "cold"})
    per_pass: dict[str, dict[str, float]] = {p: {} for p in traced_passes}

    def add(p, k, v):
        if p in per_pass:
            per_pass[p][k] = per_pass[p].get(k, 0.0) + v

    span_names = {
        "lexer": "lexer.ms", "parser": "parser.ms",
        "sql_backend": "sql_backend.ms", "compiler": "compiler.ms",
        "engine": "engine.self_ms", "spark.sql": "spark.sql_call_ms",
        "collect": "collect.ms", "close": "engine.close_ms",
    }
    for s in spans:
        if s["op"] is None:
            continue
        p = s["op"].split("/")[0]
        if s["name"] in span_names:
            add(p, span_names[s["name"]], s["self_ms"])
        if s["name"] == "lexer":
            add(p, "lexer.tokens", s.get("tokens", 0))
        if s["name"] == "sql_backend":
            add(p, "sql_backend.refusals", s.get("refused", 0))
            add(p, "sql_backend.sql_bytes", s.get("sql_bytes", 0))
        if s["name"] == "compiler":
            add(p, "compiler.py4j_calls", s["py4j_all"])
        if s["name"] == "engine":
            add(p, "engine.query_ms", s["ms"])
            add(p, "engine.py4j_calls", s["py4j_all"])
        if s["name"].endswith(".build"):
            add(p, s["name"].replace(".build", ".py4j_calls"), s["py4j_all"])
    spanned: dict[str, float] = {}
    for s in spans:
        if s["op"] is not None and s["parent"] is None:
            spanned[s["op"]] = spanned.get(s["op"], 0.0) + s["ms"]
    inmem = reads = 0
    walls_by_pipe: dict[str, list[float]] = {}
    traced_wall = unspanned = 0.0
    for r in run.records:
        if not r["traced"]:
            continue
        key = f"{r['pass']}/{r['op']}"
        if r["pass"] == "cold":
            if r["op"] in PIPELINES and "build_ms" in r:
                m[f"operators.{r['op']}.first_build_ms"] = r["build_ms"]
                m[f"operators.{r['op']}.first_eager_jobs"] = r["eager_jobs"]
            continue
        p = r["pass"]
        traced_wall += r["wall_ms"]
        unspanned += r["wall_ms"] - spanned.get(key, 0.0)
        add(p, "engine.fallbacks", r.get("fallbacks", 0))
        add(p, "collect.rows", r["rows"])
        if r["op"] in PIPELINES and "build_ms" in r:
            add(p, f"operators.{r['op']}.build_ms", r["build_ms"])
            add(p, f"operators.{r['op']}.eager_jobs", r["eager_jobs"])
            walls_by_pipe.setdefault(r["op"], []).append(r["wall_ms"])
        sp = r.get("spark")
        if sp:
            for k in ("exec_ms", "jobs", "stages", "tasks", "task_busy_ms",
                      "shuffle_write_bytes", "spill_bytes", "input_bytes",
                      "analysis_ms", "optimization_ms", "planning_ms"):
                add(p, f"spark.{k}", sp[k])
            if not run.frames or set(r.get("tables", ())) & set(run.frames):
                reads += 1
                inmem += sp["inmem_scan"]
    for k in {k for pp in per_pass.values() for k in pp}:
        m[k] = _median([pp.get(k, 0.0) for pp in per_pass.values()])
    for pipe, walls in walls_by_pipe.items():
        m[f"operators.{pipe}.wall_ms"] = _median(walls)
    if m["spark.exec_ms"]:
        m["spark.core_idle_share"] = 1 - m["spark.task_busy_ms"] / (
            run.nproc * m["spark.exec_ms"])
    m["cache.inmem_scan_share"] = inmem / reads if reads else 0.0
    m["cache.user_inputs_evicted"] = run.evicted
    if run.snapshots:
        m["cache.entries_live"] = run.snapshots[-1]["cache_entries"]
        m["catalog.temp_views_live"] = run.snapshots[-1]["temp_views"]
        m["catalog.temp_views_growth"] = (
            run.snapshots[-1]["temp_views"] - run.snapshots[0]["temp_views"])
    m.update(run.jvm_memory)
    m["ops.failed_share"] = run.failed / run.attempted
    untraced, traced = (
        sum(_best_walls(run, t).values()) for t in (False, True))
    m["trace.overhead_share"] = traced / untraced - 1 if untraced else 0.0
    m["trace.unspanned_share"] = unspanned / traced_wall if traced_wall else 0.0
    return m


# ---------------------------------------------------------------- main


def _digest(paths) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _cpu_times() -> list[int]:
    return [int(x) for x in Path("/proc/stat").read_text().split()[1:9]]


def _stamp(run, load_at_launch) -> dict:
    import duckdb
    import pyspark

    commit = None
    if (ROOT / ".git").exists():
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    return {
        "workload": run.workload, "seed": run.args.seed,
        "seconds": run.args.seconds, "trace": run.args.trace,
        "nproc": run.nproc, "loadavg_at_launch": load_at_launch,
        "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        "python": sys.version.split()[0], "git_commit": commit,
        "program_digest": _digest((ROOT / "pql_spark").rglob("*.py")),
        "inputs_digest": _digest([INPUTS]),
        "data": run.data_dir.name,
        "data_digest": _digest(run.data_dir.glob("*.parquet")),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEM"),
        # share of CPU time the hypervisor gave to other guests during the
        # run: a high value explains a slow run
        "cpu_steal_share": _steal_share(run.cpu_at_launch, _cpu_times()),
    }


def _steal_share(before: list[int], after: list[int]) -> float:
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def _stop_spark(run) -> None:
    if run.spark is None:
        return
    proc = run.sc._gateway.proc
    run.spark.stop()
    run.sc._gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    run.spark = None


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="sf0.01", choices=SCALES,
                    help="data scale (tiny: the benchmark's own tests)")
    # internal: one fresh-interpreter cold pass of pql_compile
    ap.add_argument("--fresh-pass", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "pql_spark" / "__init__.py").is_file():
        print(f"perfbench: no pql_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    load_at_launch = os.getloadavg()
    run = Run(args)
    run.cpu_at_launch = _cpu_times()
    run.cpus = os.sched_getaffinity(0)
    run.nproc = len(run.cpus)
    run.inputs = json.loads(INPUTS.read_text())
    run.first_sql = {}
    _environment(run)
    ops = make_ops(run)
    if args.fresh_pass:
        return fresh_pass(run, ops)
    rng = random.Random(args.seed)
    order = list(range(len(ops)))
    rng.shuffle(order)
    try:
        setup_reps = setup(run)
        run.user_inputs_cached = len(run.frames) - _evicted_user_inputs(run)
        t0 = time.perf_counter()
        load_oracles(run, ops)
        oracle_s = time.perf_counter() - t0
        if args.trace:
            from spans import Tracer

            run.tracer = Tracer()
        cold_order = list(order)
        for pid in _program_pids(run):
            _reset_peak_rss(pid)
        run_pass(run, ops, order, "cold", traced=bool(args.trace))
        # the program's peak memory in the first pass of a fresh session:
        # every op once, what a production run pays; the JVM's heap sizing
        # moves later passes' peaks by hundreds of MB from run to run
        run.peak_rss_by_pid = [_peak_rss_mb(p) for p in _program_pids(run)]
        # warm passes while the next one is expected to end within
        # --seconds; at least two (the first still warms up), or three
        # when traced (untraced, traced, untraced), so the overhead
        # compares passes on both sides of the traced one
        t_warm = time.perf_counter()
        n = 0
        while n < 2 + args.trace or (
            (time.perf_counter() - t_warm) * (n + 1) / n <= args.seconds
        ):
            rng.shuffle(order)
            _pin_single_threaded(run, n)
            run_pass(run, ops, order, f"warm{n}",
                     traced=bool(args.trace) and n % 2 == 1)
            n += 1
        if run.workload == "pql_compile":
            for k in range(1, COMPILE_SETUP_REPS):
                _pin_single_threaded(run, k)
                setup_reps.append(_fresh_compile_pass(
                    run, k, [ops[i].name for i in cold_order]))
            os.sched_setaffinity(0, run.cpus)
        run.peak_rss_mb = sum(run.peak_rss_by_pid)
        run.evicted = _evicted_user_inputs(run)
        run.jvm_memory = _jvm_memory(run)
    finally:
        _stop_spark(run)
    run.attempted = len(run.records)
    run.failed = sum(r["failed"] for r in run.records)
    metrics = per_layer(run) if args.trace else end_to_end(run, setup_reps)
    units = PER_LAYER if args.trace else END_TO_END
    stamp = _stamp(run, load_at_launch)
    record = {
        "stamp": stamp, "setup_reps_s": setup_reps, "oracle_s": oracle_s,
        # cold-pass peak of this process and of the JVM
        "peak_rss_by_process_mb": run.peak_rss_by_pid,
        # persisted user inputs in the cache manager after set-up, and
        # how many of them it no longer held at the end
        "user_inputs": {"persisted": len(run.frames),
                        "cached_after_setup": run.user_inputs_cached,
                        "evicted_at_end": run.evicted},
        # too few warm op runs per run to bound a tail percentile (28 on
        # pql_cached, 10 on curate_dedup): kept here, not as a metric
        "op_p95_ms": _pctl(_best_walls(run, traced=False).values(), 0.95),
        "datagen_s": run.datagen_s, "ops": len(ops),
        "failed_share": run.failed / run.attempted,
        "failures": run.failures, "metrics": metrics,
        "registry": run.snapshots, "records": run.records,
    }
    if args.trace:
        record["spans"] = run.tracer.spans
    out = run.build / "records" / (
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    out.write_text(json.dumps(record, default=str) + "\n")
    for name, why in sorted(run.failures.items()):
        print(f"FAIL {name}: {why}")
    print(f"perfbench {args.workload}: {len(ops)} ops, {run.attempted} "
          f"attempted, failed_share {record['failed_share']:.4f}, "
          f"record {out.relative_to(ROOT)}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
