#!/usr/bin/env python3
"""Layered benchmark for cerberus_cpp_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload validate_clean --seed 7 \\
        --seconds 20 --trace 0

One process per run, Spark on ``local[nproc]`` with a driver heap sized
from RAM.  The load is a closed loop with one client: after one untimed
warm-up pass, passes over the workload's requests are issued back to
back until ``--seconds`` have elapsed.  Only calls into public functions
are timed (``TableValidator`` and its result methods, and the
``__spark_entry__.queries()`` functions); inputs come from
``image_caption_frame`` and the sf0.01 tables in ``perfbench/data``.
Outputs are checked outside the timed calls.

The last stdout line is the result object ``{"correct", "attempted",
"failed", "metrics"}`` (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``); the line before it is the raw report (host
facts, samples, per-layer detail).  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import importlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import pyarrow.dataset

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SF_DIR = os.path.join(HERE, "data", "sf0.01")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

#: rows and violation period of the materialized ``validate_clean`` input
VALIDATE_INPUT = (1_200_000, 100)
#: the same for the report-path probe of traced runs: 50% planted rows
REPORT_INPUT = (400_000, 2)
#: contract queries the ``contract_suite`` workload times, in
#: ``queries()`` declaration order: every family, cheapest members
SUITE_FILE = os.path.join(HERE, "suite.json")
FAMILIES_FILE = os.path.join(HERE, "families.json")
#: setups per run: the first runs cold and the next few still warm up,
#: so the median of 11 is a warm one; warm setups still vary by ~15%
SETUP_REPS = 11
#: repetitions of each leave-one-rule-out count in the traced run
RULE_REPS = 4
#: timed passes at least: the contract suite's first one still ran slow,
#: and with 4 the median leaves it out
MIN_PASSES = 4
#: the full 169-query oracle sweep, run by hand (not a timed workload)
FULL_SWEEP = "contract_full"
WORKLOADS = ("validate_clean", "contract_suite")


# -- host ----------------------------------------------------------------

def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_ram_bytes() -> int:
    with open("/proc/meminfo", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(ram: int) -> int:
    """A quarter of RAM, between 1 GiB and 6 GiB: the machine is shared
    and the largest input here is a few hundred MB of parquet."""
    return max(1024, min(6144, ram // 4 // 2**20))


def source_digest() -> str:
    """sha1 over the package and the entry module (the checkout the
    benchmark runs in is not necessarily a git repository)."""
    h = hashlib.sha1()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for dirpath, dirnames, filenames in os.walk(
            os.path.join(ROOT, "cerberus_cpp_spark")):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        paths += [os.path.join(dirpath, f) for f in sorted(filenames)
                  if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def host_facts(spark) -> dict:
    import duckdb
    import pandas
    import pyarrow
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": host_cpus(),
        "ram_bytes": host_ram_bytes(),
        "driver_memory_mb": driver_memory_mb(host_ram_bytes()),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": jvm.System.getProperty("java.version"),
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "git_commit": git_commit(),
        "source_sha1": source_digest(),
    }


def reset_peak_rss() -> None:
    with open("/proc/self/clear_refs", "w", encoding="ascii") as fh:
        fh.write("5")


def rss_mb(field: str = "VmHWM") -> float:
    """A memory field of /proc/self/status (VmHWM: peak RSS), in MB."""
    with open("/proc/self/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"{field} missing from /proc/self/status")


# -- session -------------------------------------------------------------

def build_session(workload: str, traced: bool):
    """local[nproc] session whose scratch, temp and event-log files all
    stay under the checkout's work directory."""
    from pyspark.sql import SparkSession

    cpus = host_cpus()
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # no hsperfdata files in /tmp from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    heap = f"{driver_memory_mb(host_ram_bytes())}m"
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"perfbench-{workload}")
        .config("spark.driver.memory", heap)
        # a fixed-size heap and bench.py's throughput collector: heap
        # growth and G1 pauses made pass times drift within a run
        .config("spark.driver.extraJavaOptions",
                f"-Xms{heap} -XX:+UseParallelGC -XX:-UsePerfData "
                f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if traced:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "true")
            .config("spark.eventLog.dir", "file://" + log_dir)
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the gateway launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- timing --------------------------------------------------------------

class Recorder:
    """Times public calls.  Each span is ``(pass, kind, layer, call,
    seconds)``: ``kind`` is ``build`` (returns a lazy DataFrame or
    result) or ``action`` (runs Spark jobs).  Traced runs also label the
    call's Spark jobs with group ``<workload>:<layer>`` and description
    ``<call>#<pass>``, and count them through statusTracker."""

    def __init__(self, spark, workload: str, traced: bool) -> None:
        self.sc = spark.sparkContext
        self.workload = workload
        self.traced = traced
        self.spans: list[tuple] = []
        self.jobs: dict[tuple[str, str], dict[str, int]] = {}
        self.untimed_s: dict[int, float] = {}
        self.pass_no = -1
        if traced:
            from sparktrace import JobCounter

            self._counter = JobCounter(self.sc)

    def label(self, layer: str, desc: str) -> tuple[str, str]:
        group = f"{self.workload}:{layer}"
        if self.traced:
            self.sc.setJobGroup(group, desc)
        return group, desc

    def span(self, kind: str, layer: str, fn, call: str | None = None):
        call = call or layer
        group, desc = self.label(layer, f"{call}#{self.pass_no}")
        t0 = time.perf_counter()
        out = fn()
        dt = time.perf_counter() - t0
        self.spans.append((self.pass_no, kind, layer, call, dt))
        if self.traced:
            got = self._counter.new_jobs(group)
            acc = self.jobs.setdefault((group, desc), dict.fromkeys(got, 0))
            for k, v in got.items():
                acc[k] += v
        return out

    def build(self, layer, fn, call=None):
        return self.span("build", layer, fn, call)

    def action(self, layer, fn, call=None):
        return self.span("action", layer, fn, call)

    def untimed(self, layer: str, fn):
        """Checks and probes: labelled but never part of a pass."""
        self.label(layer, layer)
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.untimed_s[self.pass_no] = self.untimed_s.get(
                self.pass_no, 0.0) + time.perf_counter() - t0


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def timed_median(fn, reps: int) -> float:
    return statistics.median(timed(fn) for _ in range(reps))


# -- validate workloads --------------------------------------------------

class ValidateWorkload:
    """``TableValidator(IMAGE_TABLE_RULES)`` over an image+caption table
    generated by ``image_caption_frame`` and materialized to parquet."""

    #: untimed passes first: pass times kept falling (JIT) for ~3 passes
    warm_passes = 3

    def __init__(self, spark, name: str, seed: int,
                 size: tuple[int, int] = VALIDATE_INPUT) -> None:
        self.spark = spark
        self.name = name
        self.seed = seed
        self.rows, self.every = size
        self.dir = os.path.join(WORK, name)
        self.input = os.path.join(self.dir, "input.parquet")
        self.planted = (self.rows - 1) // self.every + 1
        self.tv = None
        self.df = None

    def setup(self) -> None:
        """Materialize the seeded input, then construct the validator and
        meta-validate its schema."""
        from cerberus_cpp_spark.plans.engine import TableValidator
        from cerberus_cpp_spark.sources.distgen import image_caption_frame
        from cerberus_cpp_spark.sources.fixtures import IMAGE_TABLE_RULES

        image_caption_frame(
            self.spark, self.rows, seed=self.seed,
            violation_every=self.every, partitions=2 * host_cpus(),
        ).drop("id").write.mode("overwrite").parquet(self.input)
        self.tv = TableValidator(IMAGE_TABLE_RULES)
        self.tv.schema  # noqa: B018 - first read meta-validates
        self.df = self.spark.read.parquet(self.input)

    def requests(self):
        return [self.name]

    def run_pass(self, rec: Recorder) -> list[str]:
        """One operation; returns its output mismatches."""
        call = self.name
        res = rec.build("plans.compiler", lambda: self.tv.validate(self.df),
                        call)
        got = rec.action("plans.engine.counts", res.counts, call)
        want = {"rows": self.rows, "violations": self.planted,
                "invalid_rows": self.planted}
        return [] if got == want else [f"counts {got} != {want}"]

    def final_check(self, rec: Recorder) -> tuple[int, list[str]]:
        return 0, []  # every pass checks its own output

    def probes(self, rec: Recorder) -> tuple[dict, int, list[str]]:
        """Per-layer probes for the traced run (outside every pass):
        (values, checks made, mismatches)."""
        from cerberus_cpp_spark.plans.engine import TableValidator
        from cerberus_cpp_spark.sources.fixtures import IMAGE_TABLE_RULES

        res = self.tv.validate(self.df)

        def noop(df):
            return lambda: df.write.format("noop").mode("overwrite").save()

        out = {
            "spark.scan_s": rec.untimed(
                "spark.scan", lambda: timed_median(noop(self.df), 3)),
            "plans.engine.annotated_s": rec.untimed(
                "plans.engine.annotated",
                lambda: timed_median(noop(res.annotated), 3)),
            "plans.engine.is_valid_s": rec.untimed(
                "plans.engine.is_valid",
                lambda: timed_median(res.is_valid, 3)),
        }
        # leave-one-rule-out: reps interleaved so drift hits every variant
        # alike, best of RULE_REPS because a rule costs ~5% of a pass
        variants = {"": res}
        for field in IMAGE_TABLE_RULES:
            rules = {k: v for k, v in IMAGE_TABLE_RULES.items()
                     if k != field}
            variants[field] = TableValidator(
                rules, allow_unknown=True).validate(self.df)
        best = dict.fromkeys(variants, math.inf)
        for _ in range(RULE_REPS):
            for field, r in variants.items():
                best[field] = min(best[field], rec.untimed(
                    f"plans.compiler.rule.{field or 'all'}",
                    lambda r=r: timed(r.counts)))
        for field in IMAGE_TABLE_RULES:
            out[f"plans.compiler.rule.{field}_s"] = best[""] - best[field]
        report, checked, problems = self.report_probe(rec)
        out.update(report)
        out.update(self.flagship(rec))
        return out, checked, problems

    def report_probe(self, rec: Recorder) -> tuple[dict, int, list[str]]:
        """The report path (violations and both quarantine sinks as
        parquet) on its own 50%-violation table: each sink timed alone
        (median of 3), then its rows counted and checked against the
        planted rows."""
        dirty = ValidateWorkload(self.spark, "report_probe", self.seed,
                                 REPORT_INPUT)
        rec.untimed("setup", dirty.setup)
        res = dirty.tv.validate(dirty.df)
        clean, bad = res.quarantine()
        frames = {"violations": res.violations("image_id"),
                  "quarantine_clean": clean, "quarantine_bad": bad}
        want = {"violations": dirty.planted,
                "quarantine_clean": dirty.rows - dirty.planted,
                "quarantine_bad": dirty.planted}
        out, problems = {}, []
        for name, df in frames.items():
            path = os.path.join(dirty.dir, "probe", name)
            out[f"plans.engine.{name}_s"] = rec.untimed(
                f"plans.engine.{name}", lambda df=df, path=path: timed_median(
                    lambda: df.write.mode("overwrite").parquet(path), 3))
            rows = rec.untimed("check", lambda path=path: pyarrow.dataset
                               .dataset(path).count_rows())
            out[f"plans.engine.{name}_rows"] = rows
            if rows != want[name]:
                problems.append(f"{name} sink rows {rows} != {want[name]}")
        return out, len(want), problems

    def flagship(self, rec: Recorder) -> dict:
        """``bench.py``'s flagship operation (generate -> validate ->
        counts, no parquet) against generation alone, 24M rows."""
        from cerberus_cpp_spark.sources.distgen import image_caption_frame

        n = 24_000_000

        def frame(rows):
            return image_caption_frame(
                self.spark, rows, partitions=2 * host_cpus()).drop("id")

        gen = rec.untimed("sources.distgen.gen", lambda: timed(
            lambda: frame(n).write.format("noop").mode("overwrite").save()))
        total = rec.untimed("flagship", lambda: timed(
            lambda: self.tv.validate(frame(n + 1)).counts()))
        return {"sources.distgen.gen_s": gen, "flagship.total_s": total,
                "flagship.rows": n, "flagship.gen_share": gen / total}


# -- contract suite ------------------------------------------------------

class ContractWorkload:
    """Contract queries at sf0.01, each written to the noop sink.  After
    the timed passes each is checked against its ``oracle_sql()`` through
    DuckDB."""

    #: one untimed pass: a second cost 4 s of a run for a few % (JIT)
    warm_passes = 1

    def __init__(self, spark, name: str, seed: int) -> None:
        self.spark = spark
        self.name = name
        self.seed = seed  # the sf0.01 tables are fixed: no seeded input
        with open(FAMILIES_FILE, encoding="utf-8") as fh:
            self.families = json.load(fh)
        self.entry = None
        self.con = None
        if name == FULL_SWEEP:
            self.names = None
        else:
            with open(SUITE_FILE, encoding="utf-8") as fh:
                self.names = json.load(fh)

    def setup(self) -> None:
        """Import the entry module, open every table in Spark and DuckDB."""
        import duckdb

        os.environ["SPARK_GRAFT_SF_DIR_SMALL"] = SF_DIR
        if self.entry is None:
            self.entry = importlib.import_module("__spark_entry__")
        else:
            self.entry = importlib.reload(self.entry)
        self.queries = self.entry.queries()
        self.oracles = self.entry.oracle_sql()
        if self.con is not None:
            self.con.close()
        self.con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(SF_DIR, f"{t}.parquet")
            self.spark.read.parquet(path).schema  # noqa: B018
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                         f"read_parquet('{path}')")

    def requests(self):
        return self.names or list(self.queries)

    def run_pass(self, rec: Recorder) -> list[str]:
        for q in self.requests():
            fam = self.families[q]
            fn = self.queries[q]
            df = rec.build(fam, lambda: fn(self.spark, SF_DIR), call=q)
            rec.action(fam, lambda: df.write.format("noop")
                       .mode("overwrite").save(), call=q)
        return []

    def final_check(self, rec: Recorder) -> tuple[int, list[str]]:
        """Every request against its oracle: (checked, mismatches)."""
        problems = []
        for q in self.requests():
            try:
                problem = rec.untimed("check", lambda: self.oracle_diff(q))
            except Exception:  # a failing query is a counted failure
                traceback.print_exc(file=sys.stderr)
                problem = "raised"
            if problem:
                problems.append(f"oracle mismatch {q}: {problem}")
        return len(self.requests()), problems

    def oracle_diff(self, q: str) -> str | None:
        sdf = self.queries[q](self.spark, SF_DIR)
        cols = sorted(sdf.columns)
        got = sorted((tuple(_norm(r[c]) for c in cols)
                      for r in sdf.collect()), key=_sort_key)
        rel = self.con.sql(self.oracles[q])
        order = sorted(range(len(rel.columns)), key=lambda i: rel.columns[i])
        want = sorted((tuple(_norm(r[i]) for i in order)
                       for r in rel.fetchall()), key=_sort_key)
        if cols != sorted(rel.columns):
            return f"columns {cols} != {sorted(rel.columns)}"
        if got != want:
            return f"{len(got)} rows vs {len(want)} oracle rows"
        return None

    def probes(self, rec: Recorder) -> tuple[dict, int, list[str]]:
        return {}, 0, []


def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


def _sort_key(row: tuple):
    return tuple((v is not None, type(v).__name__,
                  v if v is not None else 0) for v in row)


# -- driver --------------------------------------------------------------

def make_workload(spark, name: str, seed: int):
    if name == "validate_clean":
        return ValidateWorkload(spark, name, seed)
    return ContractWorkload(spark, name, seed)


def pass_times(spans, passes) -> dict[int, float]:
    out = dict.fromkeys(passes, 0.0)
    for p, _kind, _layer, _call, dt in spans:
        if p in out:
            out[p] += dt
    return out


def request_times(spans, passes) -> list[float]:
    per: dict[tuple[int, str], float] = {}
    for p, _kind, _layer, call, dt in spans:
        if p in passes:
            per[(p, call)] = per.get((p, call), 0.0) + dt
    return list(per.values())


def run(args) -> dict:
    import sparktrace

    traced = bool(args.trace)
    spark = build_session(args.workload, traced)
    try:
        facts = host_facts(spark)
        wl = make_workload(spark, args.workload, args.seed)
        rec = Recorder(spark, args.workload, traced)

        setups = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            rec.untimed("setup", wl.setup)
            setups.append(time.perf_counter() - t0)

        layer_probe = {}
        if traced:
            layer_probe = interpreter_probes(spark, rec)

        attempted = failed = 0
        good_passes: list[int] = []
        errors: list[str] = []
        walls: dict[int, float] = {}

        def one_pass(p: int, body) -> bool:
            nonlocal attempted, failed
            rec.pass_no = p
            n_req = len(wl.requests())
            attempted += n_req
            t0 = time.perf_counter()
            try:
                bad = body(rec)
                walls[p] = (time.perf_counter() - t0
                            - rec.untimed_s.get(p, 0.0))
            except Exception:  # count it, keep the loop running
                traceback.print_exc(file=sys.stderr)
                failed += n_req
                errors.append(f"pass {p} raised")
                return False
            if bad:
                failed += len(bad)
                errors.extend(bad)
            return True

        full = args.workload == FULL_SWEEP
        t0 = time.perf_counter()
        for _ in range(wl.warm_passes):
            one_pass(0, wl.run_pass)
        warm_up_s = time.perf_counter() - t0
        gc.collect()
        min_passes = 1 if full else MIN_PASSES
        reset_peak_rss()
        rss_base = rss_mb("VmRSS")
        t_start = time.perf_counter()
        p = 1
        while True:
            if one_pass(p, wl.run_pass):
                good_passes.append(p)
            p += 1
            elapsed = time.perf_counter() - t_start
            if elapsed >= args.seconds and len(good_passes) >= min_passes:
                break
            if elapsed >= 3 * args.seconds:
                break
        rss = rss_mb()
        measured = time.perf_counter() - t_start
        rec.pass_no = -2
        checked, bad = wl.final_check(rec)
        attempted += checked
        failed += len(bad)
        errors.extend(bad)

        probes = {}
        if traced:
            probes, checked, bad = wl.probes(rec)
            attempted += checked
            failed += len(bad)
            errors.extend(bad)
        jobs = dict(rec.jobs)
    finally:
        stop_session(spark)

    for e in errors:
        print(e, file=sys.stderr)
    if not good_passes:
        raise RuntimeError(f"no pass completed: {errors[:3]}")
    passes = set(good_passes)
    ptimes = list(pass_times(rec.spans, passes).values())
    reqs = request_times(rec.spans, passes)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host": facts, "setup_s": setups, "pass_s": ptimes,
        "requests": len(wl.requests()), "passes": len(passes),
        "warm_up_s": warm_up_s, "rss_at_reset_mb": rss_base,
        "request_p50_s": statistics.median(reqs),
        "request_p90_s": statistics.quantiles(reqs, n=10)[-1],
        "measured_s": measured, "errors": errors[:20],
    }
    e2e = {
        "pass_s": (statistics.median(ptimes), "s"),
        "setup_s": (statistics.median(setups), "s"),
        "driver_peak_rss_mb": (rss, "MB"),
    }
    if traced:
        events = sparktrace.parse_event_log(os.path.join(WORK, "eventlog"))
        layers, detail = layer_metrics(args.workload, rec.spans, passes,
                                       walls, events, jobs)
        layers.update(layer_probe)
        report["layers"] = detail["layers"]
        report["spark_totals"] = detail["totals"]
        report["probes"] = probes
        report["probe_spark"] = {
            group: row for (group, desc), row in events.items()
            if group.startswith(args.workload + ":") and "#" not in desc}
        metrics = layers
    else:
        metrics = e2e
    report["metrics"] = {k: {"value": v, "unit": u}
                         for k, (v, u) in metrics.items()}
    return {
        "report": report,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": report["metrics"],
        },
    }


def interpreter_probes(spark, rec: Recorder) -> dict:
    """Driver-only layers every traced run measures: schema
    meta-validation (first ``TableValidator.schema`` read) and rule
    compilation (``validate()`` return time) for IMAGE_TABLE_RULES."""
    from cerberus_cpp_spark.plans.engine import TableValidator
    from cerberus_cpp_spark.sources.distgen import image_caption_frame
    from cerberus_cpp_spark.sources.fixtures import IMAGE_TABLE_RULES

    df = image_caption_frame(spark, 1000, partitions=1).drop("id")

    def meta():
        TableValidator(IMAGE_TABLE_RULES).schema  # noqa: B018

    tv = TableValidator(IMAGE_TABLE_RULES)
    tv.schema  # noqa: B018
    return {
        "dynamic.interpreter.meta_validate_s": (
            rec.untimed("probe", lambda: timed_median(meta, 5)), "s"),
        "plans.compiler.compile_s": (
            rec.untimed("probe", lambda: timed_median(
                lambda: tv.validate(df), 5)), "s"),
    }


def layer_metrics(workload, spans, passes, walls, events, jobs):
    """Per-pass means of each layer, plus the raw per-layer detail.

    The detail is keyed by layer (validate workloads) or by query family
    with a per-query breakdown (contract suite)."""
    import sparktrace

    n = len(passes)
    prefix = f"{workload}:"
    detail: dict[str, dict] = {}
    calls: dict[str, dict] = {}
    build = action = 0.0
    for p, kind, layer, call, dt in spans:
        if p not in passes:
            continue
        d = detail.setdefault(layer, {"build_s": 0.0, "exec_s": 0.0})
        d["build_s" if kind == "build" else "exec_s"] += dt / n
        c = calls.setdefault(call, {"layer": layer, "build_s": 0.0,
                                    "exec_s": 0.0})
        c["build_s" if kind == "build" else "exec_s"] += dt / n
        if kind == "build":
            build += dt
        else:
            action += dt
    totals = dict.fromkeys(
        (*sparktrace.TASK_FIELDS, "jobs", "stages", "tasks"), 0.0)

    def add(group: str, desc: str, row: dict) -> None:
        if not group.startswith(prefix) or "#" not in desc:
            return
        call, p = desc.rsplit("#", 1)
        if not p.isdigit() or int(p) not in passes:
            return
        layer = group[len(prefix):]
        for target in (detail.setdefault(layer, {}),
                       calls.setdefault(call, {"layer": layer})):
            for k, v in row.items():
                target[k] = target.get(k, 0.0) + v / n
        for k, v in row.items():
            totals[k] += v / n

    for (group, desc), row in events.items():
        add(group, desc, row)
    for (group, desc), row in jobs.items():
        add(group, desc, row)
    wall = statistics.fmean(walls[p] for p in passes)
    metrics = {
        "driver.build_s": (build / n, "s"),
        "driver.action_s": (action / n, "s"),
        "trace.pass_s": (wall, "s"),
        "trace.accounted_pct": (100 * (build + action) / n / wall, "%"),
        "spark.executor_run_s": (totals["run_ms"] / 1e3, "s"),
        "spark.executor_cpu_s": (totals["cpu_ms"] / 1e3, "s"),
        "spark.jvm_gc_s": (totals["gc_ms"] / 1e3, "s"),
        "spark.shuffle_write_bytes": (totals["shuffle_write_bytes"], "bytes"),
        "spark.input_bytes": (totals["input_bytes"], "bytes"),
        "spark.jobs": (totals["jobs"], "count"),
        "spark.stages": (totals["stages"], "count"),
        "spark.tasks": (totals["tasks"], "count"),
        "plan.exchange_nodes": (totals["exchange_nodes"], "count"),
    }
    # spill, output, Python-worker and Python-node totals are 0 on
    # validate_clean (or on both workloads): raw report only
    detail = {"layers": {"by_layer": detail, "by_call": calls},
              "totals": totals}
    return metrics, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=(*WORKLOADS, FULL_SWEEP))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in ("cerberus_cpp_spark", "__spark_entry__.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a cerberus_cpp_spark checkout, missing "
              f"{missing} under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(WORK, exist_ok=True)
    out = run(args)
    print(json.dumps(out["report"], default=str))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
