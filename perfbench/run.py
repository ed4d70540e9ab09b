#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the fdf_spark engine.

    python3 perfbench/run.py --workload signal-scan --seed 1 --seconds 10 --trace 0

Run from the repository root.  One closed-loop client on
``local[nproc]`` runs passes over the workload's ops (queries from the
registry plus a versioned-table commit sequence) in a seed-shuffled
order.  Inputs are generated from ``--seed`` (``gen.py``).  The first
pass is untimed: it compiles each op's plan and code paths, and its
results are checked -- every query against its DuckDB oracle SQL, and
the table's final and time-travel snapshots against the same sequence
replayed in DuckDB.  Timed passes follow until ``--seconds`` have
elapsed (at least one whole pass).  Every pass starts from the table's
first commit, so every pass replays the same history.

``--trace 0`` prints the end-to-end metrics, each computed over the
per-op medians of the timed passes.  ``--trace 1`` runs the timed
passes traced (event log with its streaming progress events, spans
around each ``fdf_spark`` layer), then untraced as the reference for
the tracing overhead, and prints the per-layer metrics.
The last stdout line is the JSON result; the line before it carries run
facts (nproc, versions, sample counts, failures).  Exits non-zero
without a result when the program cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from workloads import COMMIT_OPS, READ_OPS, WORKLOADS, resolve_queries  # noqa: E402

#: session start + warm-up is repeated this often; setup_s is the median
N_SETUPS = 3
#: driver JVM heap limit (spark.driver.memory) in place of the program's
#: 8g default, so that a run stays small on a shared host
DRIVER_HEAP = "1g"
#: C1 only: the JIT reaches its final compiled state within the untimed
#: first pass.  With C2 the tier-up goes on for minutes, and how far it
#: got when timing starts would vary with the host's load
JIT = "-XX:TieredStopAtLevel=1"
#: a snapshot read is cheap and reads the same version every time, so
#: each one is issued this often in a row
READ_REPEATS = 3


def gmean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def upper_mean(values: list[float], q: float) -> float:
    """Mean of the values at or above their ``q`` quantile (inclusive
    interpolation): with q = 0.75, the slowest quarter of the ops."""
    xs = sorted(values)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    cut = xs[lo] + (pos - lo) * (xs[min(lo + 1, len(xs) - 1)] - xs[lo])
    return statistics.fmean(v for v in xs if v >= cut)


def per_op(recs: list[dict]) -> dict[str, dict]:
    """Op key -> its kind, name, input rows and median wall time over the
    run's successful samples of it."""
    out: dict[str, dict] = {}
    for r in recs:
        if r["ok"]:
            out.setdefault(r["key"], {"kind": r["kind"], "op": r["op"], "rows": r["rows"], "walls": []})[
                "walls"].append(r["wall_s"])
    for o in out.values():
        o["wall_s"] = statistics.median(o.pop("walls"))
    return out


def reset_peak_rss(pids: list[int]) -> None:
    """Lower each process's peak resident set (``VmHWM``) to its current
    resident set, so the next reading covers only what follows."""
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")


def peak_rss_mb(pid: int) -> float:
    """Peak resident set (MB) of a process since its last reset."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        out.append(int(d))
            except (OSError, ValueError, IndexError):
                pass
    return out


class Bench:
    def __init__(self, args, work: Path, nproc: int) -> None:
        from fdf_spark.queries import load_all

        self.args, self.work, self.nproc = args, work, nproc
        self.wl = WORKLOADS[args.workload]
        self.registry = load_all()
        self.qnames = resolve_queries(self.registry, self.wl.queries)
        self.qorder = list(self.wl.queries)
        self.data_dir = str(work / "data")
        self.spark = None
        self.tracer = None
        self.failures: list[dict] = []
        #: oracle matches that needed the one-ulp float allowance
        self.one_ulp: list[dict] = []
        self.cache_leaks = 0

    # --- session -----------------------------------------------------
    def start(self, traced: bool):
        from fdf_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData {JIT}",
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if traced else "false",
        }
        if traced:
            conf.update({
                "spark.eventLog.dir": (self.work / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return get_spark("perfbench", master=f"local[{self.nproc}]",
                         shuffle_partitions=self.nproc, extra_conf=conf)

    def warm_up(self, spark) -> None:
        """JIT the shared scan/aggregate paths and the Arrow collect that
        every op ends in, and fork the Python worker pool -- costs every
        fresh session pays.  It reads a small table of its own, so its
        cost does not grow with the workload's inputs."""
        from pyspark.sql import functions as F

        from fdf_spark.functions.scalar import dsum

        table, col = self.wl.warm_table
        df = spark.read.parquet(str(self.work / "warm" / f"{table}.parquet"))
        df.groupBy(F.spark_partition_id()).agg(F.count("*"), dsum(col)).toPandas()
        spark.range(0, 64, 1, self.nproc).groupBy(F.col("id") % self.nproc).applyInPandas(
            lambda pdf: pdf, schema="id long").toPandas()
        spark.catalog.clearCache()

    def setup(self, traced: bool) -> None:
        """Session start and warm-up, each timed."""
        t0 = time.perf_counter()
        self.spark = self.start(traced)
        t1 = time.perf_counter()
        self.warm_up(self.spark)
        self.starts.append(t1 - t0)
        self.warms.append(time.perf_counter() - t1)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def new_sequence(self):
        """The workload's commit sequence on an empty table directory."""
        from workloads import VersionedSequence

        path = self.work / "table"
        shutil.rmtree(path, ignore_errors=True)
        return VersionedSequence(str(path), self.args.seed, self.wl.table_rows, self.wl.batch_rows)

    # --- ops ---------------------------------------------------------
    def pass_ops(self, pass_no: int) -> list[tuple[str, str, str]]:
        """The pass's ops as (kind, name, key): queries in a seeded order,
        interleaved at seeded positions with the table ops, which keep
        their listed order (one client's commit sequence, so every read
        sees the same history).  A snapshot read is issued READ_REPEATS
        times in a row.  The key names the op across passes: the query,
        or the table op and its place in the sequence."""
        import numpy as np

        rng = np.random.default_rng([self.args.seed, pass_no])
        queries = [("query", q, q) for q in (self.qorder[i] for i in rng.permutation(len(self.qorder)))]
        table = [("table", k, f"{k}#{i}") for i, k in enumerate(self.wl.table_ops)]
        n = len(queries) + len(table)
        slots = set(rng.choice(n, len(table), replace=False).tolist())
        qi, ti = iter(queries), iter(table)
        ops = [next(ti) if i in slots else next(qi) for i in range(n)]
        return [op for op in ops for _ in range(READ_REPEATS if op[1] in READ_OPS else 1)]

    def cached(self) -> int:
        return self.spark._jsparkSession.sharedState().cacheManager().numCachedEntries()

    def run_op(self, kind: str, name: str, op_id: int) -> tuple[dict, object]:
        """Time one op; returns its record and its result on the driver."""
        from pyspark.sql import DataFrame

        spark, seq, tr = self.spark, self.seq, self.tracer
        rec = {"id": op_id, "kind": kind, "op": name, "rows": 0, "ok": True}
        arg = before = None
        if kind == "table":
            arg, rec["rows"] = seq.prepare(spark, name)
            if name in COMMIT_OPS:
                before = seq.before_write()
        else:
            rec["rows"] = sum(self.rows[t] for t in self.wl.queries[name])
        span = (lambda n: tr.span(n, "bench")) if tr else (lambda n: nullcontext())
        if tr:
            tr.op_id, tr.active = op_id, True
            spark.sparkContext.setJobGroup(f"perfbench-{op_id}", name)
        n_cached = self.cached()
        result = None
        rec["t0"], w0 = time.time(), time.perf_counter()
        try:
            with span(f"op:{name}"):
                with span("build"):
                    if kind == "query":
                        # the registry function is the queries layer's entry
                        with tr.span(self.qnames[name], "queries") if tr else nullcontext():
                            out = self.registry[self.qnames[name]].fn(spark, self.data_dir)
                    else:
                        out = seq.build(spark, name, arg)
                rec["build_s"] = time.perf_counter() - w0
                with span("exec"):
                    if isinstance(out, DataFrame):
                        result = out.toPandas()
        except Exception as e:  # an op failure is a measured outcome
            rec["ok"] = False
            self.failures.append({"op": name, "cause": f"{type(e).__name__}: {str(e)[:300]}"})
            traceback.print_exc(file=sys.stderr)
        rec["wall_s"] = time.perf_counter() - w0
        rec["t1"] = time.time()
        rec.setdefault("build_s", rec["wall_s"])
        rec["exec_s"] = rec["wall_s"] - rec["build_s"]
        if tr:
            tr.op_id, tr.active = None, False
            spark.sparkContext.setJobGroup("perfbench-idle", "")
        leaked = self.cached() - n_cached
        if leaked > 0:
            self.cache_leaks += leaked
            rec["cache_leaks"] = leaked
            spark.catalog.clearCache()
        if rec["ok"] and before is not None:
            seq.after_write(name, arg, before)
        return rec, result

    def measure(self, seconds: float | None = None, n_ops: int | None = None,
                keep: bool = False) -> list[dict]:
        """Ops in pass order, the table restored to its first commit at the
        start of every pass (untimed), so each pass replays the same
        history.  Runs until ``seconds`` have elapsed, stopping between
        ops once at least one whole pass has run, or exactly ``n_ops``
        ops.  ``keep`` keeps each query's first result for the checks."""
        recs: list[dict] = []
        first = self.pass_no
        t_start = time.perf_counter()

        def done() -> bool:
            if n_ops is not None:
                return len(recs) >= n_ops
            return self.pass_no > first and time.perf_counter() - t_start >= seconds

        while not done():
            self.seq.reset()
            ops = self.pass_ops(self.pass_no)
            for i, (kind, name, key) in enumerate(ops):
                rec, result = self.run_op(kind, name, self.n_ops)
                rec["pass"], rec["key"] = self.pass_no, key
                self.n_ops += 1
                if keep and kind == "query" and rec["ok"]:
                    self.results.setdefault(name, result)
                recs.append(rec)
                if i + 1 < len(ops) and done():
                    return recs
            self.pass_no += 1
        return recs

    def warm_pass(self) -> list[dict]:
        """One whole untimed pass: the first run of each op in a context
        compiles its plan and code paths.  Its results are the checked ones."""
        return self.measure(n_ops=len(self.pass_ops(self.pass_no)), keep=True)

    # --- checks ------------------------------------------------------
    def check(self) -> int:
        """Oracle-check each query's first result and the table snapshots.
        Returns the number of mismatches (each is a failed op)."""
        import importlib.util

        import duckdb

        # the repository's own oracle comparison (tests/oracle_utils.py),
        # loaded by path so no other "tests" package can shadow it
        spec = importlib.util.spec_from_file_location("oracle_utils", ROOT / "tests" / "oracle_utils.py")
        oracle_utils = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(oracle_utils)
        compare_frames = oracle_utils.compare_frames

        def one_ulp_apart(got, want, name: str) -> bool:
            """The frames match once float cells may differ by one unit in
            the last place.  DuckDB's DECIMAL -> DOUBLE cast rounds twice,
            so the oracle twin of an exact decimal sum can be one unit
            below or above the correctly rounded value."""
            try:
                compare_frames(got, want, name, float_tol=2.0 ** -52)
            except AssertionError:
                return False
            g, w = oracle_utils._normalize(got), oracle_utils._normalize(want)
            return all(a == b or abs(a - b) <= math.ulp(max(abs(a), abs(b)))
                       for col in g.columns for a, b in zip(g[col].tolist(), w[col].tolist())
                       if isinstance(a, float) and isinstance(b, float) and a == a and b == b)

        duck = duckdb.connect()
        for t in self.rows:
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                         f"'{os.path.join(self.data_dir, t + '.parquet')}')")
        bad = 0
        for name, result in self.results.items():
            q = self.registry[self.qnames[name]]
            try:
                if q.sql is None:
                    raise AssertionError("no oracle SQL")
                want = duck.execute(q.sql).fetch_arrow_table().to_pandas()
                try:
                    compare_frames(result, want, q.name)
                except AssertionError as e:
                    if not one_ulp_apart(result, want, q.name):
                        raise
                    self.one_ulp.append({"op": name, "exact": str(e)[:300]})
            except Exception as e:  # a mismatch or oracle error is a failed op
                bad += 1
                self.failures.append({"op": name, "cause": f"oracle: {str(e)[:300]}"})
        seq = self.seq
        snaps = [("table_final", None, "t")]
        if seq.check_version is not None:
            snaps.append(("table_time_travel", seq.check_version, "snap"))
        for label, version, duck_table in snaps:
            try:
                got = seq.v.read_version(self.spark, seq.path, version=version).toPandas()
                want = seq.duck.execute(f"SELECT * FROM {duck_table}").fetch_arrow_table().to_pandas()
                compare_frames(got, want, label)
            except Exception as e:
                bad += 1
                self.failures.append({"op": label, "cause": f"oracle: {str(e)[:300]}"})
        return bad

    # --- the run -----------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        import numpy as np

        from gen import write_tables

        args, wl = self.args, self.wl
        g0 = time.perf_counter()
        self.rows = {}
        for scale, tables in wl.scales().items():
            self.rows.update(write_tables(self.data_dir, args.seed, tables, scale))
        write_tables(str(self.work / "warm"), args.seed, [wl.warm_table[0]], 0.005)
        self.seq = self.new_sequence()
        generate_s = time.perf_counter() - g0

        self.starts, self.warms = [], []
        # a traced run does its other set-ups before the traced and the
        # reference passes
        for i in range(1 if args.trace else N_SETUPS):
            if i:
                self.stop()
            self.setup(traced=False)
        java = self.spark.sparkContext._jvm.System.getProperty("java.version")
        p0 = time.perf_counter()
        self.seq.create(self.spark)
        prepare_s = time.perf_counter() - p0

        self.pass_no, self.n_ops, self.results = 0, 0, {}
        info: dict = {}
        seq = self.seq
        warm = self.warm_pass()
        c0 = time.perf_counter()
        bad = self.check()
        check_s = time.perf_counter() - c0
        # the amplifications of one whole pass's commit sequence
        disk, manifest_bytes, live = seq.space()
        write_amp, space_amp = seq.bytes_written / seq.user_bytes, disk / live
        if args.trace:
            recs, traced, ref_recs = self.traced_passes(info)
        else:
            jvm_pid = self.spark.sparkContext._gateway.proc.pid
            # the peak over the timed passes, not over generation, set-up or the first pass
            reset_peak_rss([os.getpid(), jvm_pid])
            recs, ref_recs = self.measure(args.seconds), []
            py_rss, jvm_rss = peak_rss_mb(os.getpid()), peak_rss_mb(jvm_pid)
            info["peak_rss_mb"] = {"python": py_rss, "jvm": jvm_rss}
        setup_s = [s + w for s, w in zip(self.starts, self.warms)]
        attempted = warm + recs + ref_recs

        ops = per_op(recs)
        lat = [o["wall_s"] for o in ops.values()]
        commits = [o["wall_s"] for o in ops.values() if o["kind"] == "table" and o["op"] in COMMIT_OPS]
        reads = [o["wall_s"] for o in ops.values() if o["kind"] == "table" and o["op"] in READ_OPS]
        failed = sum(1 for r in attempted if not r["ok"]) + bad
        info.update({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": self.nproc, "passes": len(recs) / len(warm), "timed_s": sum(r["wall_s"] for r in recs),
            "samples": len(recs), "ops": len(ops), "commit_ops": len(commits), "read_ops": len(reads),
            "generate_s": generate_s, "prepare_s": prepare_s, "check_s": check_s, "setup_s": setup_s,
            "session_start_s": self.starts, "warmup_s": self.warms,
            "op_wall_s": {k: round(o["wall_s"], 4) for k, o in ops.items()},
            "warm_pass_wall_s": [[r["key"], round(r["wall_s"], 4)] for r in warm],
            "failed_frac": failed / len(attempted), "failures": self.failures,
            "oracle_one_ulp": self.one_ulp,
            "cache_leaks": self.cache_leaks,
            "cache_leak_ops": sorted({r["op"] for r in attempted if r.get("cache_leaks")}),
            "manifest_bytes": manifest_bytes,
            "versions": {
                "python": platform.python_version(),
                "pyspark": __import__("pyspark").__version__,
                "duckdb": __import__("duckdb").__version__,
                "pyarrow": __import__("pyarrow").__version__,
                "numpy": np.__version__,
                "java": java,
            },
        })
        if args.trace:
            metrics = traced
            metrics["bench.generate_s"] = generate_s
        else:
            metrics = {
                "setup_s": statistics.median(setup_s),
                "peak_rss_mb": py_rss + jvm_rss,
                "latency_gmean_s": gmean(lat),
                "latency_tail_s": upper_mean(lat, 0.75),
                "rows_per_s": sum(o["rows"] for o in ops.values()) / sum(lat),
                "commit_gmean_s": gmean(commits),
                # a pass has 3-5 commits: their slower half is the tail
                "commit_tail_s": upper_mean(commits, 0.5),
                "read_gmean_s": gmean(reads),
                "write_amp": write_amp,
                "space_amp": space_amp,
            }
        self.stop()
        declared = json.loads((ROOT / "BENCHMARK.json").read_text())[
            "per_layer" if args.trace else "end_to_end"]
        missing = [m["name"] for m in declared if m["name"] not in metrics]
        if missing:
            raise RuntimeError(f"metrics not computed: {missing}")
        result = {
            "correct": failed == 0,
            "attempted": len(attempted),
            "failed": failed,
            "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in declared},
        }
        return info, result

    def traced_passes(self, info: dict) -> tuple[list[dict], dict, list[dict]]:
        """The measured passes, traced, then the same ops untraced as the
        reference for the tracing overhead, each in a fresh context.
        Returns the traced op records, the per-layer metrics and the
        reference op records."""
        import tracing as tr_mod

        self.stop()
        self.setup(traced=True)
        tracer = self.tracer = tr_mod.Tracer()
        info["wrapped_functions"] = tracer.install()
        seq = self.seq
        bw0, fw0, leaks0 = seq.bytes_written, seq.files_written, self.cache_leaks
        first_pass = self.pass_no
        lo = time.time()
        recs = self.measure(self.args.seconds)
        hi = time.time()
        tracer.uninstall()
        self.tracer = None
        leaks = self.cache_leaks - leaks0
        _, manifest_bytes, _ = seq.space()
        self.stop()  # the event log is complete once the context stops
        # the reference replays the same ops: every pass starts from the
        # table's first commit, as the traced passes did
        self.setup(traced=False)
        self.pass_no = first_pass
        ref_recs = self.measure(n_ops=len(recs))
        spans = tracer.spans
        events = tr_mod.read_event_log(str(self.work / "eventlog"))
        m, jobs, sqls = tr_mod.spark_metrics(events, lo, hi)
        m.update(tr_mod.layer_metrics(spans, jobs))
        q = [r for r in recs if r["kind"] == "query"]
        t = [r for r in recs if r["kind"] == "table"]
        m["session.start_s"] = statistics.median(self.starts)
        m["session.warmup_s"] = statistics.median(self.warms)
        m["queries.build_s"] = sum(r["build_s"] for r in q)
        m["queries.exec_s"] = sum(r["exec_s"] for r in q)
        m["queries.build_jobs"] = sum(tr_mod.jobs_between(jobs, r["t0"], r["t0"] + r["build_s"]) for r in q)
        m["queries.exec_jobs"] = sum(tr_mod.jobs_between(jobs, r["t0"] + r["build_s"], r["t1"]) for r in q)
        # per op: time some job runs, executor run time of the jobs it
        # submitted, and the share of its wall time that the program's
        # layer spans, Spark's SQL executions and its jobs account for
        op_spans: dict[int, list[dict]] = {}
        for sp in spans:
            if sp["layer"] != "bench":
                op_spans.setdefault(sp["op"], []).append(sp)
        for r in recs:
            r["job_s"] = tr_mod.covered(jobs, r["t0"], r["t1"])
            r["executor_run_s"] = sum(j["run_s"] for j in jobs if r["t0"] <= j["start"] < r["t1"])
            r["coverage"] = tr_mod.covered(op_spans.get(r["id"], []) + sqls + jobs, r["t0"], r["t1"]) / (
                r["t1"] - r["t0"])
        m["spark.driver_gap_s"] = sum((r["t1"] - r["t0"]) - r["job_s"] for r in recs)
        m["spark.cpu_share"] = m["spark.executor_cpu_s"] / max(1e-9, m["spark.executor_run_s"])
        m["spark.cache_leaks"] = leaks
        for kind in ("append", "merge", "update", "delete", "optimize"):
            xs = [r["wall_s"] for r in t if r["op"] == kind]
            m[f"versioned.{kind}_s"] = statistics.median(xs) if xs else 0.0
        xs = [r["wall_s"] for r in t if r["op"] in READ_OPS]
        m["versioned.read_s"] = statistics.median(xs) if xs else 0.0
        commits = [r for r in t if r["op"] in COMMIT_OPS]
        m["versioned.jobs_per_commit"] = sum(
            tr_mod.jobs_between(jobs, r["t0"], r["t1"]) for r in commits) / max(1, len(commits))
        m["versioned.bytes_written"] = seq.bytes_written - bw0
        m["versioned.files_written"] = seq.files_written - fw0
        m["versioned.manifest_bytes"] = manifest_bytes
        m["trace.overhead_s"] = sum(r["wall_s"] for r in recs) - sum(r["wall_s"] for r in ref_recs)
        low = min(recs, key=lambda r: r["coverage"])
        m["trace.span_coverage"] = low["coverage"]
        info["lowest_coverage_op"] = low["op"]
        # where op time goes, per class of op: the share of wall time with
        # no job running, and executor run time over nproc x wall time
        by_class: dict[str, dict] = {}
        for r in recs:
            c = by_class.setdefault(self.wl.op_class(r["kind"], r["op"]),
                                    {"ops": 0, "wall_s": 0.0, "job_s": 0.0, "executor_run_s": 0.0})
            c["ops"] += 1
            for k in ("wall_s", "job_s", "executor_run_s"):
                c[k] += r[k]
        for c in by_class.values():
            c["driver_gap_share"] = 1.0 - c["job_s"] / c["wall_s"]
            c["executor_util"] = c["executor_run_s"] / (self.nproc * c["wall_s"])
        info["op_classes"] = by_class
        trace_dir = ROOT / ".perfbench" / "traces"
        trace_dir.mkdir(parents=True, exist_ok=True)
        stem = trace_dir / f"{self.args.workload}-seed{self.args.seed}"
        tracer.write(f"{stem}-spans.json")
        with open(f"{stem}-ops.json", "w") as f:
            json.dump({"traced": recs, "reference": ref_recs}, f)
        info["trace_files"] = [f"{stem}-spans.json", f"{stem}-ops.json"]
        return recs, m, ref_recs


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    nproc = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench" / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    # everything the run writes stays under the work directory; Python
    # workers find the program through PYTHONPATH wherever the checkout is
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p)
    sys.path.insert(0, str(ROOT))
    try:
        try:
            import fdf_spark.queries  # noqa: F401
        except ImportError as e:
            print(f"perfbench: cannot import fdf_spark from {ROOT}: {e}", file=sys.stderr)
            return 2
        bench = Bench(args, work, nproc)
        info, result = bench.run()
    finally:
        jvm = _shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info))
    print(json.dumps(result))
    return 0 if jvm else 1


def _shutdown_jvm() -> bool:
    """Stop the Spark context and the JVM it ran in, and wait for the
    JVM and its Python workers to exit."""
    if "pyspark" not in sys.modules:
        return True
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return True
    proc = gw.proc
    kids = children(proc.pid)
    for k in children(proc.pid):
        kids += children(k)
    gw.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    while kids and time.time() < deadline:
        kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
        time.sleep(0.1)
    SparkContext._gateway = None
    SparkContext._jvm = None
    return not kids


if __name__ == "__main__":
    sys.exit(main())
