"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 15 \\
        --trace 0

One closed-loop client issues the workload's operations one after the
other on ``local[<cores this process may use>]``.  Set-up (engine import,
Spark session, input generation, a warm-up pass) is measured as
``setup_s``; then whole passes run while the next one is expected to
end within ``--seconds`` (at least one pass, two when traced).  Every
timed operation starts after ``spark.catalog.clearCache()``, so no
engine data survives from one operation to the next, and after one run
of a fixed reference query in a Spark session of its own, whose SQL
settings are Spark's defaults and not the program's.  ``pass_s`` and
``read_p50_s`` are scaled by ``REF_NOMINAL_S`` / (median reference time
of the timed ops), and ``setup_s`` by ``CPU_NOMINAL_S`` / (median time of a fixed
pure-Python loop run before each op of the warm-up pass).  This removes
most of the host's speed drift (see README.md).  After the timed loop
every result is compared with DuckDB; a mismatch or an error counts as
a failed operation.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` wraps the
calls into each layer, prints the per-layer metrics and writes the
spans to ``.perfbench/spans-<workload>-<seed>.jsonl``.

Everything the run writes (generated inputs, ``spark-warehouse``, Spark
scratch space) goes to a temporary directory under ``.perfbench/`` in
the checkout, removed when the run ends.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")

SPEC = os.path.join(ROOT, "BENCHMARK.json")
# pass_s and read_p50_s are reported at the host speed at which the
# reference query takes REF_NOMINAL_S seconds.
REF_NOMINAL_S = 0.1
# SQL settings of the reference session beyond Spark's defaults; the
# shuffle partition count is set to the core count.
REF_CONF = {"spark.sql.adaptive.enabled": "false",
            "spark.sql.codegen.wholeStage": "true"}
# setup_s is reported at the host speed at which cpu_probe_s() takes
# CPU_NOMINAL_S seconds.
CPU_NOMINAL_S = 0.025
# The reference query runs this often between the warm-up pass and the
# timed loop: its time falls by about half over its first 40 runs in a
# fresh JVM (JIT).
REF_WARMUP = 50


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("headline", "mergetree_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--passes", type=int, default=0,
                    help="run exactly this many passes (self-test)")
    ap.add_argument("--scale", type=float, default=1.0,
                    help="data size multiplier (self-test)")
    return ap.parse_args(argv)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile; ``values`` must not be empty."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def fingerprint(norm_rows, cols, rows) -> tuple:
    """Column set and digest of the normalised rows."""
    cols = [c.lower() for c in cols]
    digest = hashlib.sha1(repr(norm_rows(cols, rows)).encode()).hexdigest()
    return tuple(sorted(cols)), len(rows), digest


def peak_rss_mb(pids: list[int]) -> float:
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024


def reference_session(spark, cores: int):
    """A session for the reference query: every ``spark.sql.*``
    setting the program passed to Spark is unset (static ones cannot
    be), then ``REF_CONF`` applies."""
    ref = spark.newSession()
    for key, _value in spark.sparkContext.getConf().getAll():
        if key.startswith("spark.sql.") and ref.conf.isModifiable(key):
            ref.conf.unset(key)
    for key, value in {**REF_CONF,
                       "spark.sql.shuffle.partitions": str(cores)}.items():
        ref.conf.set(key, value)
    return ref


def cpu_probe_s() -> float:
    """Time of a fixed pure-Python loop: the host's speed during
    set-up, when the reference query is itself still cold."""
    t = time.perf_counter()
    x = 0
    for i in range(300_000):
        x ^= i * i
    return time.perf_counter() - t


def part_dirs(table_path: str) -> set[str]:
    return {os.path.join(table_path, d) for d in os.listdir(table_path)
            if d.startswith("part-")}


class Run:
    """One workload run in the current (temporary) working directory."""

    def __init__(self, args, work_dir: str, import_s: float) -> None:
        import __spark_entry__ as entry_mod
        from check_correctness import norm_rows

        self.args = args
        self.work = work_dir
        self.import_s = import_s
        self.queries = entry_mod.queries()
        self.oracles = entry_mod.oracle_sql()
        self.norm_rows = norm_rows
        self.cores = len(os.sched_getaffinity(0))
        self.tracer = None
        self.probe = None
        self.tables: dict = {}
        self.results: list[dict] = []
        self.mt = {"parts_max": 0, "files": 0, "bytes": 0, "stored": 0}
        self.parts_seen: dict[str, set] = {}
        self.phase: dict = {}

    # ------------------------------------------------------------ phases

    def execute(self) -> dict:
        from clickhouse_core_spark import get_spark
        import spans
        import workloads

        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{self.cores}]")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        self.spark = spark
        try:
            self.ref_spark = reference_session(spark, self.cores)
            t = time.perf_counter()
            self.wl = wl = workloads.build(
                self.args.workload, self.args.seed,
                os.path.join(self.work, "inputs"), self.oracles,
                self.args.passes or 64, self.args.scale)
            gen_s = time.perf_counter() - t
            t = time.perf_counter()
            for name, path in wl.batch_views.items():
                spark.read.parquet(path).createOrReplaceTempView(name)
            warm_s = time.perf_counter() - t
            self.setup_cpu = []
            for op in wl.warmup:
                spark.catalog.clearCache()
                self.setup_cpu.append(cpu_probe_s())
                t = time.perf_counter()
                self._run_op(op, -1)
                warm_s += time.perf_counter() - t
            spark.catalog.clearCache()
            t = time.perf_counter()
            for _ in range(REF_WARMUP):     # the benchmark's own work
                self._reference_s()
            ref_warm_s = time.perf_counter() - t
            setup_s = self.import_s + session_s + gen_s + warm_s
            self.mt = dict.fromkeys(self.mt, 0)
            if self.args.trace:
                self.tracer = spans.Tracer()
                spans.install_layer_spans(self.tracer)
                self.probe = spans.JobProbe(spark)
            t = time.perf_counter()
            try:
                passes = self._measure()
            finally:
                if self.tracer is not None:
                    self.tracer.unpatch()
            rss = peak_rss_mb([os.getpid(),
                               spark.sparkContext._gateway.proc.pid])
            self.phase.update(session=session_s, gen=gen_s, warm=warm_s,
                              ref_warm=ref_warm_s,
                              measure=time.perf_counter() - t)
        finally:
            t = time.perf_counter()
            self._stop(spark)
            self.phase["stop"] = time.perf_counter() - t
        t = time.perf_counter()
        failures = self._check()
        self.phase["check"] = time.perf_counter() - t
        return self._report(setup_s, session_s, passes, rss, failures)

    def _measure(self) -> list[float]:
        """Run whole passes until the time is used up; returns the sum
        of operation latencies of each pass."""
        want = self.args.passes
        least = 2 if self.tracer is not None else 1
        start = time.perf_counter()
        walls = []
        for p, ops in enumerate(self.wl.passes):
            walls.append(sum(self._timed(op, p) for op in ops))
            if want:
                if len(walls) >= want:
                    break
                continue
            used = time.perf_counter() - start
            if len(walls) >= least and used + walls[-1] > self.args.seconds:
                break
        return walls

    def _reference_s(self) -> float:
        t = time.perf_counter()
        self.ref_spark.range(0, 400_000, 1, self.cores) \
            .selectExpr("id % 10 AS k").groupBy("k").count().collect()
        return time.perf_counter() - t

    def _timed(self, op, pass_no: int) -> float:
        self.spark.catalog.clearCache()
        ref = self._reference_s()
        if self.probe is not None:
            self.probe.new_jobs()       # the reference query's jobs
        res = self._run_op(op, pass_no)
        res["ref"] = ref
        res["leaked"] = not self.spark._jsparkSession.sharedState() \
            .cacheManager().isEmpty()
        self.results.append(res)
        return res["latency"]

    # ------------------------------------------------------- one request

    def _span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def _run_op(self, op, pass_no: int) -> dict:
        from clickhouse_core_spark.plans import frontend

        res = {"pass": pass_no, "name": op.name, "kind": op.kind,
               "oracle": op.oracle, "rows_in": op.rows, "error": None,
               "fp": None, "build_jobs": [], "jobs": [], "phases": None}
        if self.tracer is not None:
            self.tracer.op = len(self.results)
        df = rows = None
        t0 = time.perf_counter()
        try:
            with self._span("op"):
                with self._span("entry.build"):
                    if op.entry is not None:
                        df = self.queries[op.entry](self.spark,
                                                    self.wl.data_dir)
                    else:
                        df = frontend.ch_sql(self.spark, op.sql,
                                             tables=self.tables)
                if self.probe is not None:
                    res["build_jobs"] = self.probe.new_jobs()
                t1, wall1 = time.perf_counter(), time.time()
                if op.kind == "read":
                    with self._span("action.collect"):
                        rows = df.collect()
                res["action_wall"] = (wall1, time.time())
                res["action_s"] = time.perf_counter() - t1
        except Exception as exc:   # counted as a failed op, run goes on
            res["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
        res["latency"] = time.perf_counter() - t0
        if self.probe is not None:
            res["jobs"] = self.probe.new_jobs()
            if rows is not None:
                from spans import catalyst_phases
                res["phases"] = catalyst_phases(df)
        if rows is not None:
            res["fp"] = fingerprint(self.norm_rows, df.columns,
                                    [tuple(r) for r in rows])
        if self.wl.uses_ch_tables and res["error"] is None:
            self._after_mergetree_op(op, res)
        return res

    def _after_mergetree_op(self, op, res) -> None:
        """Parts, files and bytes the op left behind (untimed)."""
        from fixtures import dir_bytes

        table = self.tables.get(op.table)
        if table is None:
            return
        now = part_dirs(table.path)
        new = now - self.parts_seen.get(table.path, set())
        self.parts_seen[table.path] = now
        for part in new:
            for _root, _dirs, files in os.walk(part):
                self.mt["files"] += len(files)
            self.mt["bytes"] += dir_bytes(part)
        if op.name.startswith("insert"):
            self.mt["parts_max"] = max(self.mt["parts_max"], len(now))
        if op.name == "optimize":
            self.mt["stored"] = dir_bytes(table.path)

    # ----------------------------------------------------------- checking

    def _check(self) -> list[str]:
        """Compare every timed result with DuckDB; returns failures."""
        import duckdb
        import workloads

        con = duckdb.connect()
        if self.wl.batch_views:
            views = self.wl.batch_views
        else:
            views = {t: os.path.join(self.wl.data_dir, f"{t}.parquet")
                     for t in workloads.TABLES}
        for name, path in views.items():
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{path}')")
        expected: dict[str, tuple] = {}
        failures = []
        for res in self.results:
            if res["error"] is not None:
                failures.append(f"{res['name']}: {res['error']}")
                continue
            if res["kind"] != "read":
                continue
            sql = res["oracle"]
            if sql not in expected:
                rel = con.sql(sql)
                expected[sql] = fingerprint(self.norm_rows, rel.columns,
                                            rel.fetchall())
            if res["fp"] != expected[sql]:
                res["error"] = "result differs from the DuckDB oracle"
                failures.append(f"{res['name']}: {res['error']}")
        con.close()
        return failures

    # ------------------------------------------------------------ metrics

    def _report(self, setup_s, session_s, passes, rss, failures) -> dict:
        res = self.results
        reads = [r["latency"] for r in res if r["kind"] == "read"]
        wall = {"setup_s": setup_s, "pass_s": statistics.median(passes),
                "read_p50_s": quantile(reads, 0.5),
                "read_p90_s": quantile(reads, 0.9)}
        ref = statistics.median(r["ref"] for r in res)
        setup_cpu = statistics.median(self.setup_cpu)
        nominal = {"setup_s": setup_s * CPU_NOMINAL_S / setup_cpu,
                   "pass_s": wall["pass_s"] * REF_NOMINAL_S / ref,
                   "read_p50_s": wall["read_p50_s"] * REF_NOMINAL_S / ref}
        with open(SPEC) as fh:
            spec = json.load(fh)
        if self.tracer is None:
            values = nominal
            listed = spec["end_to_end"]
        else:
            values = self._layers(session_s, passes, rss)
            values.update({f"wall.{k}": v for k, v in wall.items()})
            values["ref.median_s"] = ref
            listed = spec["per_layer"]
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in listed}
        if self.tracer is not None:
            os.makedirs(OUT_DIR, exist_ok=True)
            self.tracer.write(os.path.join(
                OUT_DIR, f"spans-{self.args.workload}-{self.args.seed}.jsonl"))
        detail = {
            "workload": self.args.workload, "seed": self.args.seed,
            "trace": self.args.trace, "cores": self.cores,
            "passes": len(passes), "read_samples": len(reads),
            "write_samples": sum(r["kind"] == "write" for r in res),
            "input_bytes": self.wl.input_bytes, "failures": failures[:20],
            "ref_median_s": ref, "setup_cpu_median_s": setup_cpu,
            "nominal": nominal, "wall": wall, "phase": self.phase,
            "ops": [(r["name"], round(r["latency"], 4), round(r["ref"], 4))
                    for r in res],
        }
        if self.tracer is not None:
            detail["self_s"] = {k: v / len(passes) for k, v in
                                self.tracer.self_times().items()}
            detail["build_jobs"] = {}
            for r in res:
                detail["build_jobs"][r["name"]] = max(
                    len(r["build_jobs"]),
                    detail["build_jobs"].get(r["name"], 0))
        print("# perfbench " + json.dumps(detail))
        return {"correct": not failures, "attempted": len(res),
                "failed": len(failures), "metrics": metrics}

    def _layers(self, session_s, passes, rss) -> dict:
        """Per-layer metrics, per pass, from spans and status store."""
        import spans

        tr, res, n = self.tracer, self.results, len(passes)
        jobs = [j for r in res for j in r["build_jobs"] + r["jobs"]]
        action_jobs = [j for r in res for j in r["jobs"]]

        def total(key, js=jobs):
            return sum(j[key] for j in js)

        collect_s = 0.0
        for r in res:
            if r["phases"] is None or "action_s" not in r:
                continue
            lo, hi = r["action_wall"]
            job_s = spans.covered_s([
                (max(lo, j["start_ms"] / 1000), min(hi, j["end_ms"] / 1000))
                for j in r["jobs"] if j["start_ms"] and j["end_ms"]])
            collect_s += max(0.0, r["action_s"] - job_s
                             - r["phases"]["optimization"]
                             - r["phases"]["planning"])
        action_wall = sum(r.get("action_s", 0.0) for r in res)
        stages: dict[str, set] = {}
        for r in res:
            stages.setdefault(r["name"], set()).add(
                sum(j["stages"] for j in r["build_jobs"] + r["jobs"]))
        writes = [r["latency"] for r in res
                  if r["kind"] == "write" and r["name"] != "create"]
        rows_in = sum(r["rows_in"] for r in res)
        insert_ops = {i for i, r in enumerate(res)
                      if r["name"].startswith("insert")}
        read_ops = {i for i, r in enumerate(res) if r["kind"] == "read"}

        def phase(key):
            return sum(r["phases"][key] for r in res if r["phases"])

        out = {
            "session.start_s": session_s,
            "catalog.register_s": tr.duration("catalog.register_all"),
            "plans.translate_s": tr.duration("plans.translate_ch_sql"),
            "plans.translate_calls": tr.count("plans.translate_ch_sql"),
            "plans.ch_sql_s": tr.duration("plans.ch_sql"),
            "entry.build_s": tr.duration("entry.build"),
            "entry.build_jobs": sum(len(r["build_jobs"]) for r in res),
            "catalyst.analysis_s": phase("analysis"),
            "catalyst.optimization_s": phase("optimization"),
            "catalyst.planning_s": phase("planning"),
            "exec.jobs": len(jobs),
            "exec.stages": total("stages"),
            "exec.tasks": total("tasks"),
            "exec.run_s": total("run_ms") / 1e3,
            "exec.cpu_s": total("cpu_ns") / 1e9,
            "exec.gc_s": total("gc_ms") / 1e3,
            "exec.input_rows": total("input_rows"),
            "exec.input_bytes": total("input_bytes"),
            "exec.shuffle_read_bytes": total("shuffle_read_bytes"),
            "exec.shuffle_write_bytes": total("shuffle_write_bytes"),
            "exec.spill_bytes": (total("spill_mem_bytes")
                                 + total("spill_disk_bytes")),
            "exec.failed_tasks": total("failed_tasks"),
            "collect.s": collect_s,
            "collect.rows": sum(r["fp"][1] for r in res if r["fp"]),
            "cache.leaked_ops": sum(r["leaked"] for r in res),
            "mergetree.insert_s": tr.duration("mergetree.insert"),
            "mergetree.insert_jobs": sum(
                len(res[i]["build_jobs"] + res[i]["jobs"])
                for i in insert_ops),
            "mergetree.view_refresh_s": tr.duration("mergetree.read",
                                                    insert_ops),
            "mergetree.files_written": self.mt["files"],
            "mergetree.bytes_written": self.mt["bytes"],
            "mergetree.compact_s": tr.duration("mergetree.compact"),
            "mergetree.final_read_s": sum(
                res[i].get("action_s", 0.0) for i in read_ops
                if self.wl.uses_ch_tables),
        }
        out = {k: v / n for k, v in out.items()}
        busy = total("run_ms", action_jobs) / 1e3
        out.update({
            "session.start_s": session_s,
            "exec.core_busy_ratio": (busy / (action_wall * self.cores)
                                     if action_wall else 0.0),
            "cache.stage_drift_ops": sum(len(s) > 1 for s in stages.values()),
            "mergetree.parts_max": self.mt["parts_max"],
            "mergetree.write_amp": (self.mt["bytes"] / n / self.wl.input_bytes
                                    if self.wl.uses_ch_tables else 0.0),
            "write_p50_s": quantile(writes, 0.5) if writes else 0.0,
            "write_p90_s": quantile(writes, 0.9) if writes else 0.0,
            "ingest_rows_per_s": (rows_in / sum(writes) if writes else 0.0),
            "stored_bytes_per_input_byte": (self.mt["stored"]
                                            / self.wl.input_bytes
                                            if self.wl.uses_ch_tables
                                            else 0.0),
            "error_rate": sum(r["error"] is not None for r in res) / len(res),
            "mem.peak_rss_mb": rss,
        })
        return out

    # ------------------------------------------------------------ teardown

    @staticmethod
    def _stop(spark) -> None:
        """Stop Spark and wait for the JVM to exit."""
        gateway = spark.sparkContext._gateway
        proc = gateway.proc
        spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts"), HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # Import the engine first: without it the run stops here, before
    # creating any file.
    import __spark_entry__  # noqa: F401
    import check_correctness  # noqa: F401
    import_s = time.perf_counter() - t_start

    os.makedirs(OUT_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=OUT_DIR)
    scratch = os.path.join(work, "tmp")
    os.makedirs(scratch)
    os.environ.update({
        "TMPDIR": scratch, "SPARK_LOCAL_DIRS": scratch,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData"})
    cwd = os.getcwd()
    try:
        os.chdir(work)
        result = Run(args, work, import_s).execute()
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
