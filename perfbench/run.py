"""Closed-loop benchmark of the seafan_spark engine.

One client runs a fixed list of ``__spark_entry__.queries()`` steps in
passes on one ``local[<nproc>]`` session built by
``seafan_spark.session.get_session``. The seed permutes the step order in
every pass; the tables are the read-only seed-42 test tables of
TESTDATA.md at the workload's scale factor (see ``perfbench/workloads.json``).
``BENCHMARK.json`` gates ``seafan_model`` and ``curation``; ``interactive``
(the driver-overhead view at sf0.001) runs on demand and in the smoke test.

A run:

1. starts the session;
2. set-up pass: runs every step once (codegen and JIT are paid here),
   checks its rows against the DuckDB twin from ``oracle_sql()`` with
   ``scripts/check_oracle.py``'s comparison (rows-only steps: row count and
   columns) and keeps a checksum of the verified rows;
3. timed passes: whole passes, two at least, while the next one is expected
   to end within ``--seconds``. Each step is measured from the call into the
   engine until the checksum of its collected rows is computed and compared
   with the verified one. ``session.cleanup(spark)`` runs between steps.

The gated (end-to-end) times are CPU seconds of the engine's processes
(``CpuMeter``: this process, the JVM and Spark's Python workers), without
the JVM's JIT compiler threads, whose share shrinks pass by pass and
differs from run to run. On a shared VM the wall time of the same pass
doubles when the host is busy; CPU time excludes the time the hypervisor
gave to other guests and grows about half as much (the CPU time of a
fixed pure-Python loop does not grow with steal at all; the engine's
threads spend more CPU per pass when the host is busy). ``setup_s`` is the
engine CPU used from process start to the end of the set-up pass, less the
oracle's. The wall times, the JIT compiler's CPU and the host's CPU steal
are printed on the summary line and reported by the traced run.

It prints one summary line per workload and, last, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics
of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. The traced run alternates traced and untraced passes,
reports layer numbers from the traced ones, wall times from the untraced
ones and the traced passes' extra wall time as ``trace.overhead_ratio``,
and writes every span to ``perfbench/out/spans-<workload>-<seed>.json``.

Usage:
    python3 perfbench/run.py --workload seafan_model --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seconds 0      # every workload, two timed passes each

Environment: ``SPARK_GRAFT_TESTDATA`` overrides the directory that holds
the ``sf<scale factor>`` table directories. The engine's own variables
(``SPARK_GRAFT_DRIVER_MEM``, ...) keep their defaults unless set.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse
import hashlib
import importlib.util
import json
import os
import random
import shutil
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")  # see TESTDATA.md


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _load_json(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str) -> dict:
    """Launch hygiene, before pyspark is imported: Python workers can import
    seafan_spark, scratch files stay inside the work directory, and the
    JVM keeps its JIT compiler threads for its whole life, so CpuMeter can
    tell their CPU time apart."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


class CpuMeter:
    """CPU seconds of the engine: this process and every process under it
    (the JVM, Spark's Python workers; children that exited included), with
    the JVM's JIT compiler threads counted apart. Time the hypervisor gave
    to other guests (steal) is not CPU time, so these readings follow the
    load on a shared host about half as much as wall time does."""

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # comm is cut at 15 chars

    def __init__(self):
        self._tick = float(os.sysconf("SC_CLK_TCK"))
        self._jit: dict[int, list[str]] = {}  # JVM pid -> stat paths of its compiler threads

    @staticmethod
    def _stat(path: str) -> list[str]:
        with open(path) as fh:
            return fh.read().rsplit(")", 1)[1].split()

    def _jit_paths(self, pid: int) -> list[str]:
        if pid not in self._jit:
            paths = []
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if fh.read().startswith(self.JIT_THREADS):
                        paths.append(f"/proc/{pid}/task/{tid}/stat")
            self._jit[pid] = paths
        return self._jit[pid]

    def read(self) -> tuple[float, float]:
        """(engine CPU s without the JIT compiler, JIT compiler CPU s) so far."""
        procs: dict[int, tuple[int, int]] = {}  # pid -> (ppid, utime+stime+cutime+cstime)
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    f = self._stat(f"/proc/{d}/stat")
                except OSError:  # exited since the listing
                    continue
                procs[int(d)] = (int(f[1]), sum(int(x) for x in f[11:15]))
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        total = jit = 0
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            total += procs[pid][1]
            todo.extend(kids.get(pid, []))
        for pid in kids.get(os.getpid(), []):  # the JVM is a child of this process
            try:
                # per-thread stat: utime and stime only
                jit += sum(sum(int(x) for x in self._stat(p)[11:13]) for p in self._jit_paths(pid))
            except OSError:  # exiting
                continue
        return (total - jit) / self._tick, jit / self._tick


def _import_check_oracle():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(ROOT, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def checksum(co, cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result: cells normalized as the oracle
    check does, floats kept to 10 significant digits so last-bit
    accumulation-order noise cannot change it."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = []
    for r in rows:
        cells = (co.norm_cell(r[i]) for i in order)
        norm.append(repr(tuple(f"{c:.10g}" if isinstance(c, float) else c for c in cells)))
    norm.sort()
    h = hashlib.blake2b(digest_size=16)
    h.update(repr([cols[i] for i in order]).encode())
    for line in norm:
        h.update(line.encode())
    return h.hexdigest()


class Oracle:
    """DuckDB twins over the test tables, compared as
    scripts/check_oracle.py compares them."""

    def __init__(self, co, data_dir: str, expected_rows_only: dict):
        import duckdb

        import __spark_entry__

        self._co = co
        self._sql = __spark_entry__.oracle_sql()
        self._con = duckdb.connect()
        for t in co.TABLES:
            self._con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self._rows_only = expected_rows_only

    def check(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when the result is right, else what is wrong."""
        if name not in self._sql:
            exp = self._rows_only.get(name)
            if exp is None:
                return "no oracle and no rows-only expectation"
            if sorted(cols) != exp["columns"] or len(rows) != exp["rows"]:
                return f"rows-only: {len(rows)} rows {sorted(cols)}, expected {exp}"
            return None
        res = self._con.sql(self._sql[name])
        dcols, drows = res.columns, res.fetchall()
        if sorted(cols) != sorted(dcols):
            return f"schema {sorted(cols)} vs {sorted(dcols)}"
        if len(rows) != len(drows):
            return f"rowcount {len(rows)} vs {len(drows)}"
        if self._co.frame_key(cols, rows)[1] != self._co.frame_key(dcols, drows)[1]:
            return "value mismatch"
        return None

    def close(self) -> None:
        self._con.close()


def tail(passes: list[dict], key: str) -> tuple[float, str]:
    """(value, what it is): the highest percentile of the per-step values
    ``key`` (``lat`` wall, ``cpu`` CPU) with at least ten samples beyond it.
    Below 40 samples that percentile is not above p75, so the median over
    passes of each pass's largest value is reported instead."""
    s = sorted(x for p in passes for x in p[key])
    if not s:  # every timed step failed
        return 0.0, "none"
    if len(s) < 40:
        return _median([max(p[key]) for p in passes if p[key]]), "median pass max"
    return s[len(s) - 11], f"p{100.0 * (len(s) - 10) / len(s):.1f}"


class Runner:
    def __init__(self, spark, co, oracle, data_dir: str, meter: CpuMeter, tracer=None, probe=None):
        import __spark_entry__
        from seafan_spark.session import cleanup

        self.meter = meter
        self.spark = spark
        self.co = co
        self.oracle = oracle
        self.data_dir = data_dir
        self.fns = __spark_entry__.queries()
        self.cleanup = cleanup
        self.tracer = tracer
        self.probe = probe
        self.verified: dict[str, str | None] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{name}: {why}")

    def setup_pass(self, order: list[str]) -> float:
        """Run and verify every step once; return the CPU seconds this
        process spent in oracle checks (excluded from set-up time)."""
        check_s = 0.0
        for name in order:
            self.attempted += 1
            self.verified[name] = None
            try:
                df = self.fns[name](self.spark, self.data_dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception as ex:  # a failing step is reported, not fatal
                self._fail(name, f"{type(ex).__name__}: {str(ex)[:200]}")
                continue
            finally:
                self.cleanup(self.spark)
            t0 = time.process_time()
            err = self.oracle.check(name, cols, rows)
            if err:
                self._fail(name, err)
            else:
                self.verified[name] = checksum(self.co, cols, rows)
            check_s += time.process_time() - t0
        return check_s

    def timed_pass(self, order: list[str], traced: bool) -> dict:
        tr, probe, meter = self.tracer, self.probe, self.meter
        rec = {"traced": traced, "lat": [], "cpu": [], "build_s": 0.0, "force_s": 0.0,
               "cleanup_s": 0.0, "ok": 0, "rows": {}, "step_s": {}, "step_cpu_s": {}, "spark": [],
               "span0": len(tr.spans) if tr else 0}
        if tr:
            tr.enabled = traced
        gc0 = probe.gc_s() if probe else 0.0
        job_start = tr.jobs() if tr else 0
        steal0 = _cpu_ticks()
        cpu_pass, jit_pass = meter.read()
        t_pass = time.perf_counter()
        for name in order:
            self.attempted += 1
            if tr:
                tr.step = name
                job0 = tr.jobs()
            c0 = meter.read()[0]
            w0 = time.time() * 1000.0
            t0 = time.perf_counter()
            try:
                df = self.fns[name](self.spark, self.data_dir)
                t1 = time.perf_counter()
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
                chk = checksum(self.co, cols, rows)
                t2 = time.perf_counter()
                c2 = meter.read()[0]
                w1 = time.time() * 1000.0
                if traced and probe:
                    st = probe.stages(job0, tr.jobs(), w0, w1)
                    st["wall_s"] = (w1 - w0) / 1000.0
                    rec["spark"].append(st)
            except Exception as ex:  # a failing step is reported, not fatal
                self._fail(name, f"{type(ex).__name__}: {str(ex)[:200]}")
                continue
            finally:
                t3 = time.perf_counter()
                self.cleanup(self.spark)
                rec["cleanup_s"] += time.perf_counter() - t3
            if chk != self.verified.get(name):
                self._fail(name, "checksum differs from the verified set-up result")
            else:
                rec["ok"] += 1
            rec["lat"].append(t2 - t0)
            rec["cpu"].append(c2 - c0)
            rec["step_s"][name] = t2 - t0
            rec["step_cpu_s"][name] = c2 - c0
            rec["build_s"] += t1 - t0
            rec["force_s"] += t2 - t1
            rec["rows"][name] = len(rows)
        rec["wall_s"] = time.perf_counter() - t_pass
        cpu1, jit1 = meter.read()
        rec["cpu_s"], rec["jit_s"] = cpu1 - cpu_pass, jit1 - jit_pass
        steal1 = _cpu_ticks()
        rec["steal"] = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        rec["gc_s"] = (probe.gc_s() - gc0) if probe else 0.0
        rec["jobs"] = (tr.jobs() - job_start) if tr else 0
        if tr:
            tr.enabled = False
            tr.step = None
        rec["span1"] = len(tr.spans) if tr else 0
        return rec


def _median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def step_p50(passes: list[dict], key: str) -> float:
    """Median over the steps of each step's median (``step_s`` wall,
    ``step_cpu_s`` CPU). Pooling every sample instead puts the median of an
    even number of steps on the gap between two steps' samples, where it
    jumps with their extremes."""
    names = {n for p in passes for n in p[key]}
    return _median([_median([p[key][n] for p in passes if n in p[key]]) for n in names])


def end_to_end(setup_s: float, passes: list[dict]) -> dict[str, float]:
    """The gated metrics: engine CPU seconds (CpuMeter, JIT compiler apart)."""
    return {
        "setup_s": setup_s,
        "pass_cpu_s": _median([p["cpu_s"] for p in passes]),
        "query_cpu_p50_s": step_p50(passes, "step_cpu_s"),
        "query_cpu_tail_s": tail(passes, "cpu")[0],
    }


def wall_metrics(passes: list[dict]) -> dict[str, float]:
    """The same run in wall time, with the host's CPU steal beside it."""
    wall = sum(p["wall_s"] for p in passes)
    return {
        "wall.pass_s": _median([p["wall_s"] for p in passes]),
        "wall.queries_per_s": sum(p["ok"] for p in passes) / wall,
        "wall.query_p50_s": step_p50(passes, "step_s"),
        "wall.query_tail_s": tail(passes, "lat")[0],
        "jvm.jit_s": _median([p["jit_s"] for p in passes]),
        "host.steal_ratio": _median([p["steal"] for p in passes]),
    }


def per_layer(passes: list[dict], spans: list[dict], session_start_s: float, heap_mb: float,
              cores: int, pair_steps: list[str]) -> dict[str, float]:
    """Per-pass layer totals, median over the traced passes."""
    from spans import self_jobs, self_times

    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    selft, selfj = self_times(spans), self_jobs(spans)
    rows = []
    for p in traced:
        sp = spans[p["span0"]:p["span1"]]
        m: dict[str, float] = {}

        def add(key: str, v: float) -> None:
            m[key] = m.get(key, 0.0) + v

        for s in sp:
            name, layer = s["name"], s["layer"]
            add(f"{layer}.self_s", selft[s["id"]])
            add(f"{layer}.self_jobs", selfj[s["id"]])
            parent_layer = spans[s["parent"]]["layer"] if s["parent"] is not None else ""
            top = parent_layer != layer
            if layer.startswith("exprlang") and not parent_layer.startswith("exprlang"):
                add("exprlang.calls", 1)
            if name == "model.fit":
                add("model.fit_s", s["end"] - s["start"])
                add("model.fit_jobs", s["jobs"])
                add("model.iters", s.get("iters", 0))
                if s.get("iters"):  # closed-form fits have no iterations to share the time
                    add("model.iterative_fit_s", s["end"] - s["start"])
            if top and (name.startswith("model.predict") or name in (
                    "model.add_fitted", "optim.NNModel.transform")):
                add("model.predict_s", s["end"] - s["start"])
            if layer == "llmops.dedup" and top:
                store = "incremental" in name or "store_prepare" in name
                add("llmops.dedup.store_s" if store else "llmops.dedup.batch_s",
                    s["end"] - s["start"])
                add("llmops.dedup.jobs", s["jobs"])
        st = p["spark"]
        wall = sum(x["wall_s"] for x in st)
        task_s = sum(x["task_s"] for x in st)
        m.update({
            "step.build_s": p["build_s"],
            "step.force_s": p["force_s"],
            "spark.jobs": p["jobs"],
            "spark.stages": sum(x["stages"] for x in st),
            "spark.tasks": sum(x["tasks"] for x in st),
            "spark.task_s": task_s,
            "spark.shuffle_write_bytes": sum(x["shuffle_write_bytes"] for x in st),
            "spark.spill_bytes": sum(x["spill_bytes"] for x in st),
            "spark.core_busy_ratio": task_s / (wall * cores) if wall else 0.0,
            "spark.driver_gap_s": sum(x["wall_s"] - x["busy_s"] for x in st),
            "spark.gc_s": p["gc_s"],
            "sources.input_bytes": sum(x["input_bytes"] for x in st),
            "session.cleanup_s": p["cleanup_s"],
            "llmops.dedup.pairs_out": sum(n for k, n in p["rows"].items() if k in pair_steps),
        })
        rows.append(m)

    def med(key: str) -> float:
        return _median([r.get(key, 0.0) for r in rows])

    out = {
        "session.start_s": session_start_s,
        "heap_retained_mb": heap_mb,
        "trace.overhead_ratio": (
            _median([p["wall_s"] for p in traced]) / _median([p["wall_s"] for p in untraced]) - 1.0
            if untraced else 0.0
        ),
        **wall_metrics(untraced or traced),
    }
    for key in ("step.build_s", "step.force_s", "spark.jobs", "spark.stages", "spark.tasks",
                "spark.task_s", "spark.shuffle_write_bytes", "spark.spill_bytes",
                "spark.core_busy_ratio", "spark.driver_gap_s", "spark.gc_s",
                "sources.input_bytes", "session.cleanup_s", "llmops.dedup.pairs_out",
                "exprlang.calls", "model.fit_s", "model.fit_jobs", "model.iters",
                "model.predict_s", "llmops.dedup.store_s", "llmops.dedup.batch_s",
                "llmops.dedup.jobs"):
        out[key] = med(key)
    for layer in ("pipeline", "encode", "agg", "sources", "diags", "llmops.text",
                  "llmops.similarity"):
        out[f"{layer}.call_s"] = med(f"{layer}.self_s")
    for layer in ("pipeline", "encode", "agg", "diags"):
        out[f"{layer}.jobs"] = med(f"{layer}.self_jobs")
    for sub in ("parse", "compile", "add"):
        out[f"exprlang.{sub}_s"] = med(f"exprlang.{sub}.self_s")
    iters = out["model.iters"]
    out["model.s_per_iter"] = med("model.iterative_fit_s") / iters if iters else 0.0
    return out


def _heap_retained_mb(spark) -> float:
    jvm = spark._jvm
    for _ in range(2):
        jvm.java.lang.System.gc()
    used = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()
    return int(used) / 2**20


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, (0, 0) where unknown."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (f[7] if len(f) > 7 else 0), sum(f)


def _stamp(args, wl: dict, sf: float, rows: dict, load_start, cpu_start, spark) -> dict:
    import pyspark

    steal, total = _cpu_ticks()
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": sf, "input_rows": rows,
        "nproc": _nproc(), "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
        "pyspark": pyspark.__version__,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        # share of CPU time the hypervisor gave to other guests during the run
        "cpu_steal_ratio": round((steal - cpu_start[0]) / max(1, total - cpu_start[1]), 4),
        "steps": wl["steps"],
    }


def _input_rows(co, data_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
            for t in co.TABLES}


def run_workload(args, spec: dict, bench: dict) -> dict:
    wl = spec[args.workload]
    sf = args.sf if args.sf is not None else wl["sf"]
    data_dir = os.path.join(TESTDATA, f"sf{sf:g}")
    if not os.path.isdir(data_dir):
        _fail(f"test tables not found: {data_dir}")
    work = os.path.join(BENCH_DIR, ".work", f"run-{os.getpid()}")
    extra_conf = _prepare_env(work)
    load_start, cpu_start = os.getloadavg(), _cpu_ticks()
    spark = None
    try:
        import __spark_entry__  # noqa: F401  (the engine's import cost stays in setup_s)
        from seafan_spark.session import get_session

        # the oracle's own set-up (duckdb import, connection, views) and its
        # checks are not the engine's work: their CPU time is taken out of setup_s
        c0 = time.process_time()
        co = _import_check_oracle()
        oracle_cpu_s = time.process_time() - c0

        t0 = time.perf_counter()
        cores = _nproc()
        spark = get_session("perfbench", master=f"local[{cores}]",
                            shuffle_partitions=cores, extra_conf=extra_conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_start_s = time.perf_counter() - t0
        meter = CpuMeter()

        tracer = probe = None
        if args.trace:
            from spans import SparkProbe, Tracer

            tracer, probe = Tracer(spark), SparkProbe(spark)
            tracer.install()
        c0 = time.process_time()
        oracle = Oracle(co, data_dir, spec["rows_only"])
        oracle_cpu_s += time.process_time() - c0
        runner = Runner(spark, co, oracle, data_dir, meter, tracer, probe)
        rng = random.Random(args.seed)

        def order() -> list[str]:
            steps = list(wl["steps"])
            rng.shuffle(steps)
            return steps

        oracle_cpu_s += runner.setup_pass(order())
        c0 = time.process_time()
        oracle.close()
        oracle_cpu_s += time.process_time() - c0
        setup_wall_s = time.perf_counter() - T_START
        setup_s = meter.read()[0] - oracle_cpu_s

        # whole passes, two at least, while the next one is expected to end
        # within --seconds; a traced run alternates traced and untraced passes
        passes: list[dict] = []
        t_timed = time.perf_counter()
        while len(passes) < 2 or (time.perf_counter() - t_timed
                                  + _median([p["wall_s"] for p in passes]) <= args.seconds):
            passes.append(runner.timed_pass(order(), bool(args.trace) and len(passes) % 2 == 0))
        runner.cleanup(spark)
        heap_mb = _heap_retained_mb(spark)
        stamp = _stamp(args, wl, sf, _input_rows(co, data_dir), load_start, cpu_start, spark)
        stamp.update(session_start_s=round(session_start_s, 3), setup_wall_s=round(setup_wall_s, 3),
                     oracle_cpu_s=round(oracle_cpu_s, 3))
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    e2e = end_to_end(setup_s, passes)
    wall = wall_metrics(passes)
    fail_ratio = runner.failed / runner.attempted
    print(f"stamp: {json.dumps(stamp)}")
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    summary = "  ".join(f"{k}={v:.4f} {units[k]}" for k, v in
                        [*e2e.items(), *wall.items(), ("heap_retained_mb", heap_mb)])
    print(f"{args.workload}: {summary}  fail_ratio={fail_ratio:.4f} ratio "
          f"({runner.failed}/{runner.attempted})  passes={len(passes)}  "
          f"samples={sum(len(p['cpu']) for p in passes)}  tail={tail(passes, 'cpu')[1]}")
    for what, key, unit in (("walls", "wall_s", "s"), ("CPU", "cpu_s", "s"),
                            ("JIT CPU", "jit_s", "s"), ("steal", "steal", "ratio")):
        print(f"pass {what} ({unit}): " + " ".join(f"{p[key]:.3f}" for p in passes))
    for what, key in (("medians", "step_s"), ("CPU medians", "step_cpu_s")):
        print(f"step {what} (s): " + " ".join(
            f"{n}={_median([p[key][n] for p in passes if n in p[key]]):.3f}"
            for n in wl["steps"]))
    for err in runner.errors:
        print(f"  FAIL {err}")
    if args.trace:
        metrics = per_layer(passes, tracer.spans, session_start_s, heap_mb, _nproc(), spec["pair_steps"])
        out_dir = os.path.join(BENCH_DIR, "out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"stamp": stamp, "spans": tracer.spans}, fh)
        print(f"spans: {len(tracer.spans)} written to {os.path.relpath(path, ROOT)}")
        names = [m["name"] for m in bench["per_layer"]]
    else:
        metrics = e2e
        names = [m["name"] for m in bench["end_to_end"]]
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in names},
    }


def run_all(args) -> dict:
    """Every workload in its own process; metrics keyed <workload>.<metric>."""
    out = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    spec = _load_json(os.path.join(BENCH_DIR, "workloads.json"))
    for name in [k for k in spec if "steps" in spec[k]]:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        if args.sf is not None:
            cmd += ["--sf", str(args.sf)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]), flush=True)
        if proc.returncode != 0 or not lines:
            _fail(f"workload {name} exited with {proc.returncode}")
        res = json.loads(lines[-1])
        out["correct"] &= res["correct"]
        out["attempted"] += res["attempted"]
        out["failed"] += res["failed"]
        out["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description="seafan_spark closed-loop benchmark")
    ap.add_argument("--workload", required=True, help="a workload of workloads.json, or 'all'")
    ap.add_argument("--seed", type=int, default=0, help="permutes the step order of each pass")
    ap.add_argument("--seconds", type=float, default=10.0, help="timed wall time (whole passes, two at least)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the workload's scale factor")
    args = ap.parse_args()

    for need in ("seafan_spark/__init__.py", "__spark_entry__.py", "scripts/check_oracle.py",
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}: run from a full checkout")
    bench = _load_json(os.path.join(ROOT, "BENCHMARK.json"))
    spec = _load_json(os.path.join(BENCH_DIR, "workloads.json"))
    if args.workload == "all":
        result = run_all(args)
    elif "steps" in spec.get(args.workload, {}):
        result = run_workload(args, spec, bench)
    else:
        _fail(f"unknown workload {args.workload!r}")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
