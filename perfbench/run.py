"""Seeded end-to-end benchmark of the engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload warehouse|corpus|terasort \
        --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed, starts a session through
``session.get_spark`` (several times, reporting the median set-up), runs
one cold job and then warm jobs for ``--seconds``, checks every output once
(untimed), and prints as its last line one JSON object with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). See
perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CPUS = len(os.sched_getaffinity(0))
# Explicit driver heap: the program's 16g default is more than the host's
# memory. 512m leaves (512 MB - 300 MB reserved) * 0.6 = ~127 MB of execution
# memory, which the terasort input (150 MB of records) exceeds.
DRIVER_MEM = "512m"
# Session set-ups per run; setup_s is their median. Each launches a JVM and
# costs 7-12 s on a 4-core host, so two is what the run budget allows.
SETUPS = 2

FAMILIES = {
    "warehouse": [
        ("flagship_revenue_by_nation", "tpch"),
        ("pricing_summary", "tpch"),
        ("waiting_suppliers", "tpch"),
        ("window_sessionize", "windows"),
        ("events_user_ewma_segmented", "windows"),
    ],
    "corpus": [
        ("pipeline_clean_corpus", "pipeline"),
        ("dedup_minhash_lsh", "dedup"),
        ("dedup_simhash_pairs", "dedup"),
        ("dedup_embedding_cosine", "similarity"),
    ],
    "terasort": [("sort", "terasort"), ("text", "terasort"), ("read_back", "terasort")],
}
FAMILY_NAMES = ["tpch", "windows", "dedup", "textstats", "similarity", "pipeline"]
# query_s_tail is reported in the summary but not gated: a run affords one
# warm job of 4-5 queries, and the tail rule needs 11 samples or more.
END_TO_END = {
    "setup_s": "s", "cold_job_s": "s", "job_s": "s", "input_mb_s": "MB/s",
    "query_s_p50": "s", "peak_rss_mb": "MB",
}


def settings(work: str) -> dict:
    return {
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": "-XX:ReservedCodeCacheSize=1g -XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "TMPDIR": os.path.join(work, "tmp"),
        # the launcher JVM spark-submit starts first would otherwise write
        # its perf data under /tmp
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }


def cpu_ticks() -> tuple[int, int]:
    """``(stolen, busy)`` clock ticks of all CPUs since boot, from /proc/stat.
    Stolen ticks are time the hypervisor gave this machine's CPUs to another
    guest while they had work; busy ticks are user, nice, system, irq and
    softirq time."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], v[0] + v[1] + v[2] + v[5] + v[6]


class Stopwatch:
    """Times an interval twice: wall-clock seconds, and the same seconds
    with the hypervisor's steal taken out, ``wall * (1 - stolen / (busy +
    stolen))`` over the interval. On a shared virtual machine the share of
    demanded CPU time the hypervisor withholds swings from near 0 to 30 %
    between runs and stretches every wall-clock figure with it (over ten
    warehouse seeds the wall-clock job_s spread 0.43 of its median). The
    metrics use the steal-free figure; the summary keeps both."""

    def __init__(self) -> None:
        self.t0, self.k0 = time.perf_counter(), cpu_ticks()

    def stop(self) -> tuple[float, float]:
        """``(steal-free seconds, wall seconds)`` since the watch started."""
        wall = time.perf_counter() - self.t0
        stolen, busy = (now - then for now, then in zip(cpu_ticks(), self.k0))
        return (wall * (1 - stolen / (stolen + busy)) if stolen + busy else wall), wall


class MemorySampler(threading.Thread):
    """Memory of the driver JVM and of the Python workers it forks, from
    /proc. The JVM's peak is the kernel's exact high-water mark (VmHWM).
    The workers' peak is sampled every ``interval`` seconds as the sum of
    their proportional set sizes, so pages they share with the daemon they
    fork from count once."""

    def __init__(self, pid: int, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.pid, self.interval, self.workers_peak = pid, interval, 0
        self._stop_evt = threading.Event()

    @staticmethod
    def _kib(path: str, field: str) -> int:
        with open(path) as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
        return 0

    def _descendants(self) -> set[int]:
        parent = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    parent[int(d)] = self._kib(f"/proc/{d}/status", "PPid:")
                except (OSError, ValueError):
                    continue
        tree, frontier = set(), [self.pid]
        while frontier:
            p = frontier.pop()
            kids = [c for c, pp in parent.items() if pp == p and c not in tree]
            tree.update(kids)
            frontier.extend(kids)
        return tree

    def _workers(self) -> int:
        total = 0
        for p in self._descendants():
            try:
                total += self._kib(f"/proc/{p}/smaps_rollup", "Pss:") * 1024
            except (OSError, ValueError):
                continue
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.workers_peak = max(self.workers_peak, self._workers())
            self._stop_evt.wait(self.interval)

    def stop(self) -> tuple[int, int]:
        """``(JVM peak RSS, workers' sampled peak)``, in bytes."""
        self._stop_evt.set()
        self.join()
        return self._kib(f"/proc/{self.pid}/status", "VmHWM:") * 1024, self.workers_peak


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.workload = args.workload
        self.work = os.path.join(ROOT, ".perfbench_work", args.workload)
        self.input_dir = os.path.join(self.work, "input")
        self.out_dir = os.path.join(self.work, "out")
        self.spark = None
        self.tracer = None
        self.reader = None
        self.records: list[dict] = []  # one per query attempt
        self.cold_execs: dict[str, tuple[int, int]] = {}
        self.counters: list[dict] = []  # per traced query
        self.register_s = 0.0
        # where each query of the mix writes its output
        self.sink_dirs = {name: os.path.join(self.out_dir, name) for name, _ in FAMILIES[self.workload]}

    # ---- session -------------------------------------------------------
    def start_session(self) -> tuple[float, float]:
        """Launch a session (JVM and SparkContext); returns its
        ``(steal-free, wall)`` seconds."""
        from hadoop_common_spark.session import get_spark

        watch = Stopwatch()
        self.spark = get_spark("perfbench")
        return watch.stop()

    def stop_session(self) -> None:
        """Stop the session and its JVM, and wait until the JVM has exited
        (its Python workers exit with it)."""
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
        self.spark = None

    # ---- the mix -------------------------------------------------------
    def mix(self) -> list[tuple]:
        """``(name, family, build, sink)`` for each query of the job."""
        out = self.sink_dirs
        if self.workload == "terasort":
            from hadoop_common_spark.operators.sort import total_order_sort
            from hadoop_common_spark.operators.synthgen import teragen_checksum
            from hadoop_common_spark.sources import readers, writers

            records = os.path.join(self.input_dir, "records.parquet")
            return [
                ("sort", "terasort",
                 lambda s: total_order_sort(s.read.parquet(records), ["key"]),
                 lambda df: writers.write_parquet(df, out["sort"])),
                ("text", "terasort",
                 lambda s: s.read.parquet(out["sort"]),
                 lambda df: writers.write_text_kv(df, out["text"], "key", "payload")),
                ("read_back", "terasort",
                 lambda s: teragen_checksum(readers.read_kv_text(s, out["text"]), "key", "value"),
                 lambda df: df.write.mode("overwrite").parquet(out["read_back"])),
            ]
        from hadoop_common_spark.queries import load_all

        registry = load_all()
        return [(name, family,
                 lambda s, fn=registry[name].fn: fn(s, self.input_dir),
                 lambda df, path=out[name]: df.write.mode("overwrite").parquet(path))
                for name, family in FAMILIES[self.workload]]

    def run_job(self, idx: int, traced: bool, parent: int | None) -> tuple[float, float]:
        """Run the mix once; returns the job's ``(steal-free, wall)`` seconds."""
        sc = self.spark.sparkContext
        tr = self.tracer if traced else None
        job_span = tr.open(f"job{idx}", "job", parent) if tr else None
        job_watch = Stopwatch()
        if idx == 0 and self.workload != "terasort":
            # Table registration (a schema-inference job per table) is the
            # first thing a session does; the cold job pays for it, as the
            # first registry query of a fresh session would.
            from hadoop_common_spark.tables import register_views

            register_views(self.spark, self.input_dir)
            self.register_s = job_watch.stop()[0]
        for name, family, build, sink in self.mix_:
            group = f"{idx}:{name}"
            sc.setJobGroup(group, group)
            observe = traced or idx == 0
            if observe:
                self.reader.drain()
                first = self.reader.execution_count()
            raised = False
            query_watch = Stopwatch()
            t0 = t1 = time.time()
            try:
                df = build(self.spark)
                t1 = time.time()
                sink(df)
            except Exception:
                raised = True
                traceback.print_exc(file=sys.stderr)
            t2 = time.time()
            query_s, query_wall_s = query_watch.stop()
            rec = {"job": idx, "query": name, "family": family, "build_s": t1 - t0,
                   "exec_s": t2 - t1, "query_s": query_s, "query_wall_s": query_wall_s,
                   "raised": raised, "traced": traced}
            self.records.append(rec)
            if observe:
                self.reader.drain()
                count = self.reader.execution_count() - first
                if idx == 0:
                    self.cold_execs[name] = (first, count)
                if tr:
                    self.trace_query(rec, group, first, count, job_span, t0, t1, t2)
        sc.setJobGroup("", "")
        times = job_watch.stop()
        if tr:
            tr.close(job_span)
        return times

    def trace_query(self, rec, group, first, count, job_span, t0, t1, t2) -> None:
        from perfbench import layers, stats

        tr = self.tracer
        q = tr.add(rec["query"], "query", job_span, t0, t2, family=rec["family"])
        build = tr.add("build", "queries.build", q, t0, t1)
        exe = tr.add("exec", "queries.exec", q, t1, t2)
        stages, jobs = [], self.reader.jobs(group)
        for j in jobs:
            if j["start"] is None:
                continue
            parent = build if j["start"] < t1 else exe
            js = tr.add(f"spark_job{j['job_id']}", "spark.job", parent, j["start"], j["end"] or t2)
            for sid in j["stage_ids"]:
                st = self.reader.stage(sid)
                if st is not None:
                    stages.append(st)
                    tr.add(f"stage{sid}", "spark.stage", js, st["start"], st["end"] or t2,
                           tasks=st["tasks"], task_s=st["task_s"])
        execs = self.reader.executions(first, count)
        c = layers.query_counters(execs, stages)
        c["exec.jobs"] = float(len(jobs))
        c["queries.build_s"], c["queries.exec_s"] = t1 - t0, t2 - t1
        c["driver.gap_s"] = (t2 - t0) - stats.covered(
            [(s["start"], s["end"] or t2) for s in stages], t0, t2)
        c["query_s"] = t2 - t0
        c.update(job=rec["job"], query=rec["query"], family=rec["family"],
                 checks=self.self_checks(rec["query"], execs, c))
        self.counters.append(c)
        tr.spans[q]["counters"] = {k: v for k, v in c.items() if isinstance(v, float)}

    # ---- counter self-checks (traced runs) ------------------------------
    def self_checks(self, name: str, execs: list[dict], c: dict) -> list[str]:
        """Counters against known truths: scan bytes equal the on-disk bytes
        of the tables scanned, write bytes equal the files written, and the
        shuffle bytes read equal the shuffle bytes written."""
        from perfbench import layers, verify

        problems = []
        ops = [o for e in execs for o in e["ops"]]
        for o in ops:
            if not o["name"].startswith("Scan parquet"):
                continue
            scanned = self.scanned_dir(name, o["desc"])
            if scanned is None:
                continue
            got, tol = o["metrics"].get("size of files read", (0.0, 0.0))
            want = verify.dir_bytes(scanned)
            if abs(got - want) > tol + 1:
                problems.append(f"{name}: scan of {scanned} read {got:.0f} B, files hold {want} B")
        if name in self.sink_dirs:
            got = layers.metric(ops, "written output")
            tol = layers.rounding(ops, "written output")
            want = verify.dir_bytes(self.sink_dirs[name])
            if abs(got - want) > tol + 1:
                problems.append(f"{name}: wrote {got:.0f} B by counter, {want} B on disk")
        # Every shuffle written is read once, and again where a ReusedExchange
        # reads it or where a range partitioner samples it before the sort.
        read, written = c["exchange.read_mb"] * 2**20, c["exchange.write_mb"] * 2**20
        rereads = any("ReusedExchange" in e["plan"] or "rangepartitioning" in e["plan"] for e in execs)
        if (read < written - 0.5) if rereads else abs(read - written) > 0.5:
            problems.append(f"{name}: shuffle read {read:.0f} B, written {written:.0f} B")
        return problems

    def scanned_dir(self, name: str, desc: str) -> str | None:
        """The directory a parquet scan of query ``name`` reads: terasort's
        steps each read one known directory; a registry query's scan reads
        the input table that owns its first column."""
        if self.workload == "terasort":
            return {"sort": os.path.join(self.input_dir, "records.parquet"),
                    "text": self.sink_dirs["sort"]}.get(name)
        m = re.search(r"\[(\w+?)#", desc)
        table = self.column_table.get(m.group(1)) if m else None
        return os.path.join(self.input_dir, f"{table}.parquet") if table else None

    def check_outputs(self, tables: list[str]) -> tuple[list[str], set[str]]:
        """Correctness of the last job's outputs, untimed: problems found and
        the queries whose output is wrong. Every output must be non-empty."""
        from perfbench import verify

        problems: list[str] = []
        wrong: set[str] = set()
        out = self.sink_dirs
        if self.workload == "terasort":
            from hadoop_common_spark.operators.synthgen import teragen_checksum

            spark = self.spark
            records = spark.read.parquet(os.path.join(self.input_dir, "records.parquet"))
            want = tuple(teragen_checksum(records).first())
            got_pq = tuple(teragen_checksum(spark.read.parquet(out["sort"])).first())
            got_txt = tuple(spark.read.parquet(out["read_back"]).first())
            if got_pq != want:
                wrong.add("sort")
                problems.append(f"sort: parquet output checksum {got_pq} != input {want}")
            if not verify.keys_ordered(out["sort"]):
                wrong.add("sort")
                problems.append("sort: parquet output is not globally ordered")
            if got_txt != want:
                wrong.update({"text", "read_back"})
                problems.append(f"text: read-back checksum {got_txt} != input {want}")
            if not want[0]:
                problems.append("terasort: empty input")
            return problems, wrong
        from hadoop_common_spark.queries import load_all

        registry = load_all()
        for name, _ in FAMILIES[self.workload]:
            try:
                problem, rows = verify.oracle_mismatch(
                    self.spark, name, registry[name].oracle, out[name],
                    self.input_dir, tables, os.path.join(self.work, "tmp"))
            except Exception as e:  # a sink that cannot be read is a wrong output
                problem, rows = f"check raised {type(e).__name__}: {e}", 0
            if problem:
                wrong.add(name)
                problems.append(f"{name}: {problem}")
            elif not rows:
                problems.append(f"{name}: empty output")
        return problems, wrong

    # ---- whole run -----------------------------------------------------
    def run(self) -> dict:
        from perfbench import gen, layers, stats, verify

        args = self.args
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(os.path.join(self.work, "tmp"))
        t = time.perf_counter()
        tables = gen.generate(self.workload, args.seed)
        input_bytes = gen.write_tables(tables, self.input_dir, CPUS)
        gen_s = time.perf_counter() - t
        sums = {k: gen.checksum(v) for k, v in tables.items()}
        self.column_table = {c: name for name, tb in tables.items() for c in tb.column_names}
        del tables

        setups = []
        for i in range(SETUPS):
            setups.append(self.start_session())
            if i < SETUPS - 1:
                self.stop_session()
        from pyspark import SparkContext

        self.reader = layers.StatusReader(self.spark)
        self.mix_ = self.mix()
        traced = bool(args.trace)
        if traced:
            self.tracer = layers.Tracer()
            run_span = self.tracer.open("run", "run", None, workload=self.workload, seed=args.seed)
        else:
            run_span = None
        sampler = MemorySampler(SparkContext._gateway.proc.pid)
        sampler.start()
        timed = Stopwatch()
        cold, cold_wall = self.run_job(0, traced, run_span)
        warm: list[tuple[float, float, bool]] = []  # (steal-free s, wall s, traced)
        t_warm = time.perf_counter()
        while True:
            # traced runs alternate untraced and traced warm jobs, so the
            # difference of their medians is the tracing overhead
            job_traced = traced and len(warm) % 2 == 1
            warm.append((*self.run_job(len(warm) + 1, job_traced, run_span), job_traced))
            done = time.perf_counter() - t_warm >= args.seconds
            if done and (not traced or len(warm) >= 2):
                break
        jvm_peak, self.workers_peak = sampler.stop()
        timed_s, timed_wall = timed.stop()
        t_check = time.perf_counter()
        problems, wrong = self.check_outputs(list(sums))
        self.reader.drain()
        plans = {name: self.reader.plans(first, count) for name, (first, count) in self.cold_execs.items()}
        spill_mb = 0.0
        if self.workload == "terasort":
            for j in self.reader.jobs("0:sort"):
                for sid in j["stage_ids"]:
                    st = self.reader.stage(sid)
                    if st:
                        spill_mb += st["mem_spill"] / 2**20
        regime = verify.regime_problems(self.workload, plans, spill_mb)
        problems += regime
        oj = verify.join_strategy(plans, "l_orderkey", "o_orderkey") if self.workload == "warehouse" else ""
        self.stop_session()
        check_s = time.perf_counter() - t_check

        # ---- summaries ----
        outcomes: dict[str, list[bool]] = {}
        for r in self.records:
            outcomes.setdefault(r["query"], []).append(r["raised"])
        attempted, failed, ffrac = stats.failed_frac(outcomes, wrong)
        untraced = [w for w, _, tr in warm if not tr]
        warm_q = [r["query_s"] for r in self.records if r["job"] > 0 and not r["traced"]]
        tail, tail_p, tail_n = stats.tail_percentile(warm_q)
        job_s = stats.median(untraced)
        summary = {
            "workload": self.workload, "seed": args.seed, "settings": settings(self.work),
            "input_mb": input_bytes / 2**20, "gen_s": gen_s, "input_checksums": sums,
            "setups_s": [a for a, _ in setups], "setups_wall_s": [w for _, w in setups],
            "register_s": self.register_s, "cold_job_s": cold, "cold_job_wall_s": cold_wall,
            "warm_jobs_s": [a for a, _, _ in warm], "warm_jobs_wall_s": [w for _, w, _ in warm],
            "stolen_share": 1 - timed_s / timed_wall,
            "query_s": {q: [round(r["query_s"], 3) for r in self.records if r["query"] == q]
                        for q in outcomes},
            "query_s_tail": tail, "query_s_tail_percentile": tail_p, "query_s_tail_n": tail_n,
            "check_s": check_s, "failed_frac": ffrac,
            "python_workers_peak_mb": self.workers_peak / 1e6,
            "orders_lineitem_join": oj, "spill_mb": spill_mb,
            "problems": problems,
        }
        e2e = {
            "setup_s": stats.median([a for a, _ in setups]),
            "cold_job_s": cold,
            "job_s": job_s,
            "input_mb_s": (input_bytes / 1e6) / job_s if job_s else 0.0,
            "query_s_p50": stats.median(warm_q),
            "peak_rss_mb": jvm_peak / 1e6,
        }
        summary["end_to_end"] = e2e
        if traced:
            per_layer = self.per_layer(setups, warm)
            problems += [p for c in self.counters for p in c["checks"]]
            self.tracer.close(run_span)
            for span in self.tracer.spans:
                span["self_s"] = stats.self_time(span, self.tracer.children(span["id"]))
            summary["per_layer"] = per_layer
            trace_path = os.path.join(self.work, f"trace-seed{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump({"summary": summary, "spans": self.tracer.spans,
                           "queries": self.counters}, f, default=str)
            summary["trace_file"] = os.path.relpath(trace_path, ROOT)
            metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in per_layer.items()}
        else:
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        summary["problems"] = problems
        print(json.dumps({"summary": summary}, default=str))
        return {"correct": not problems, "attempted": attempted, "failed": failed, "metrics": metrics}

    def per_layer(self, setups: list[tuple[float, float]],
                  warm: list[tuple[float, float, bool]]) -> dict:
        from perfbench import stats

        med = stats.median
        out = {
            "session.start_s": med([a for a, _ in setups]),
            "session.register_s": self.register_s,
            "python.peak_mb": self.workers_peak / 2**20,
        }
        by_job: dict[int, list[dict]] = {}
        for c in self.counters:
            by_job.setdefault(c["job"], []).append(c)
        warm_jobs = [cs for j, cs in by_job.items() if j > 0]
        maxed = {"agg.peak_mb", "exec.peak_mem_mb", "exec.task_skew"}
        keys = [k for k in self.counters[0] if isinstance(self.counters[0][k], float)]

        def job_value(cs: list[dict], k: str) -> float:
            vals = [c[k] for c in cs]
            return max(vals) if k in maxed else sum(vals)

        for k in keys:
            out[k] = med([job_value(cs, k) for cs in warm_jobs])
        for fam in FAMILY_NAMES:
            out[f"queries.{fam}_s"] = med([sum(c["query_s"] for c in cs if c["family"] == fam)
                                           for cs in warm_jobs])
        out["sources.rows_kept_frac"] = med([
            job_value(cs, "sources.kept_rows") / job_value(cs, "sources.scan_rows")
            if job_value(cs, "sources.scan_rows") else 1.0 for cs in warm_jobs])
        out["dedup.pair_yield"] = med([
            sum(c["sources.write_rows"] for c in cs if c["family"] == "dedup")
            / max(1.0, sum(c["dedup.candidates"] for c in cs if c["family"] == "dedup"))
            for cs in warm_jobs])
        out["python.cold_boot_s"] = job_value(by_job.get(0, []), "python.boot_s") if by_job.get(0) else 0.0
        traced_s = [w for w, _, tr in warm if tr]
        untraced_s = [w for w, _, tr in warm if not tr]
        out["trace.job_s"] = med(traced_s)
        out["trace.overhead_s"] = med(traced_s) - med(untraced_s)
        return {k: out[k] for k in PER_LAYER_UNITS}


PER_LAYER_UNITS = {
    "session.start_s": "s", "session.register_s": "s",
    "queries.build_s": "s", "queries.exec_s": "s", "driver.gap_s": "s",
    **{f"queries.{f}_s": "s" for f in FAMILY_NAMES},
    "sources.scan_mb": "MiB", "sources.scan_rows": "count", "sources.scan_s": "s",
    "sources.rows_kept_frac": "ratio", "sources.write_mb": "MiB", "sources.write_files": "count",
    "sources.write_s": "s", "sources.commit_s": "s",
    "sort.s": "s", "sort.spill_mb": "MiB",
    "exchange.write_mb": "MiB", "exchange.read_mb": "MiB", "exchange.write_s": "s",
    "exchange.fetch_wait_s": "s",
    "join.smj": "count", "join.bhj": "count", "join.broadcast_mb": "MiB",
    "agg.build_s": "s", "agg.peak_mb": "MiB", "agg.spill_mb": "MiB",
    "aqe.coalesced_parts": "count", "aqe.skew_splits": "count",
    "python.boot_s": "s", "python.cold_boot_s": "s", "python.run_s": "s",
    "python.mb_sent": "MiB", "python.rows_recv": "count", "python.peak_mb": "MiB",
    "dedup.pair_yield": "ratio",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count", "exec.task_s": "s",
    "exec.cpu_s": "s", "exec.gc_s": "s", "exec.peak_mem_mb": "MiB", "exec.failed_tasks": "count",
    "exec.task_skew": "ratio",
    "trace.job_s": "s", "trace.overhead_s": "s",
}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(FAMILIES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    bench = Bench(args)
    env = settings(bench.work)
    os.environ.update(env)
    sys.path.insert(0, ROOT)
    try:
        import hadoop_common_spark  # noqa: F401
        import tools.verify_local  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import tempfile

    tempfile.tempdir = None
    try:
        result = bench.run()
    finally:
        if bench.spark is not None:  # a run that failed midway still stops its JVM
            bench.stop_session()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
