"""Benchmark of the query engine: closed-loop passes over one workload.

    python3 perfbench/run.py --workload scan_x10 --seed 1 --seconds 16 --trace 0

Run from the repository root. One driver process runs ``local[cpus]``; one
client thread builds each query with ``QUERIES[name].fn(spark, dir)`` and
forces it with a ``noop`` write, one query after another. A pass runs every
query of the workload once, in an order the seed picks. Passes repeat until
``--seconds`` of measuring is spent (at least two passes).

Before the timed passes: a child process writes the seeded inputs, and only
when it has ended does the set-up (``setup_s``) begin: pyspark and the
registry are imported, the session started, one warm pass collects every
query's result and a second warm pass runs as the timed passes do. The
collected results are checked against the registry's DuckDB oracles after
the timed passes.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables Spark's
event log and job-group tags and prints the per-layer metrics instead. The
last stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``. Everything is written under ``.bench_work/`` in the
repository root; each run leaves a record in ``.bench_work/runs/``.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.metadata
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "parallel_mapreduce_spark"
CPUS = 4  # local[CPUS] task slots
sys.path.insert(0, HERE)

from procs import RssSampler, cpu_steal_s, descendants, reap  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END = {
    "pass_s": "s",
    "query_geomean_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}
LAYERS = (
    "functions.text",
    "functions.dedup",
    "functions.similarity",
    "functions.pipeline",
    "functions.selection",
    "functions.trainprep",
    "operators.relational",
    "operators.tpch_gaps",
    "operators.timeseries",
    "operators.events",
    "operators.graph",
    "mr",
    "sources.roundtrip",
    "streaming",
)
LAYER_FIELDS = {
    "build_s": "s",
    "exec_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "shuffle_write_bytes": "bytes",
}
TOTAL_METRICS = {
    "registry.load_all_s": "s",
    "session.get_spark_s": "s",
    "session.warm_s": "s",
    "session.persist_evictions": "count",
    "sources.input_bytes": "bytes",
    "sources.output_bytes": "bytes",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.parallel_efficiency": "ratio",
    "driver.no_task_s": "s",
    "trace.pass_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = {f"{lay}.{f}": u for lay in LAYERS for f, u in LAYER_FIELDS.items()}
    units.update(TOTAL_METRICS)
    return units


def layer_of(module: str) -> str:
    name = module.removeprefix(PKG + ".")
    return "streaming" if name.startswith("streaming.") else name


def source_digest(top: str, exts: tuple[str, ...] = (".py",)) -> str:
    """sha256 over the files under ``top`` ending in ``exts``: identifies the
    code (and the benchmark's inputs) even where the checkout is not a git
    repository."""
    h = hashlib.sha256()
    for dirpath, dirnames, files in os.walk(top):
        dirnames.sort()
        for f in sorted(files):
            if f.endswith(exts):
                path = os.path.join(dirpath, f)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None  # not a git checkout (do not report an enclosing repository)
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True,
            text=True,
            timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


class Bench:
    """One benchmark run: inputs, session, passes, checks and teardown."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.workload = WORKLOADS[args.workload]
        run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.work = os.path.join(ROOT, ".bench_work")
        self.scratch = os.path.join(self.work, "tmp", run_id)
        self.data = os.path.join(self.scratch, "data")
        self.eventlog = os.path.join(self.scratch, "eventlog")
        self.record_path = os.path.join(self.work, "runs", run_id + ".json")
        self.attempted = 0
        self.failures: list[tuple[str, str]] = []
        self.spans: list[dict] = []  # every timed query run, in order
        self.passes: list[dict] = []
        self.setup: dict[str, float] = {}
        self.spark = None

    # -- environment -------------------------------------------------------

    def stamp(self) -> dict:
        return {
            "workload": self.workload.name,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "cpus": CPUS,
            "host_cpus": os.cpu_count(),
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "commit": git_commit(),
            "source_digest": source_digest(os.path.join(ROOT, PKG)),
            "bench_digest": source_digest(HERE, (".py", ".parquet")),
            "queries": list(self.workload.queries),
            "spark_version": importlib.metadata.version("pyspark"),
            "python": sys.version.split()[0],
            "load_1m_at_start": os.getloadavg()[0],
            "env": {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
        }

    def prepare_env(self) -> None:
        """Keep every file the run writes inside the checkout."""
        tmp = os.path.join(self.scratch, "tmp")
        for d in (tmp, self.eventlog, os.path.dirname(self.record_path)):
            os.makedirs(d, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        confs = {
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            # No hsperfdata file: the JVM would write it under /tmp.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
        if self.args.trace:
            confs.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "true",
                }
            )
        submit = [f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()]
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])
        # spark-submit first runs a short launcher JVM; keep its hsperfdata out of /tmp too.
        launcher = os.environ.get("SPARK_LAUNCHER_OPTS", "")
        os.environ["SPARK_LAUNCHER_OPTS"] = f"{launcher} -XX:-UsePerfData".strip()
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def generate(self) -> None:
        """Write the seeded inputs in a child process, so that the set-up
        neither shares the CPUs with it nor finds its modules imported."""
        subprocess.run(
            [
                sys.executable,
                os.path.join(HERE, "gen.py"),
                "--workload",
                self.workload.name,
                "--seed",
                str(self.args.seed),
                "--out",
                self.data,
            ],
            check=True,
            timeout=120,
        )

    # -- set-up ------------------------------------------------------------

    def start(self) -> None:
        t0 = time.perf_counter()  # pyspark is first imported below
        sys.path.insert(0, ROOT)
        from parallel_mapreduce_spark.registry import QUERIES, _load_all

        _load_all()
        t1 = time.perf_counter()
        from parallel_mapreduce_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=CPUS)
        t2 = time.perf_counter()
        self.queries = QUERIES
        missing = [q for q in self.workload.queries if q not in QUERIES]
        if missing:
            raise SystemExit(f"unknown queries in {self.workload.name}: {missing}")
        self.setup["registry.load_all_s"] = t1 - t0
        self.setup["session.get_spark_s"] = t2 - t1

    def warm(self) -> dict:
        """Two untimed passes. The first collects every query's result for
        the oracle check; JIT, codegen and index snapshots warm here. The
        second runs as a timed pass does, so that the first timed pass
        finds the JVM as warm as the later ones."""
        results = {}
        t0 = time.perf_counter()
        for name in self.workload.queries:
            self.attempted += 1
            try:
                results[name] = self.queries[name].fn(self.spark, self.data).toPandas()
            except Exception:  # a failing query is counted, never dropped
                self.failures.append((name, traceback.format_exc(limit=3)))
        self.run_pass(-1, list(self.workload.queries))
        self.setup["session.warm_s"] = time.perf_counter() - t0
        return results

    # -- timed passes ------------------------------------------------------

    def run_pass(self, idx: int, order: list[str]) -> tuple[dict, list[dict]]:
        """One pass in ``order``: the pass's figures and its query spans."""
        from parallel_mapreduce_spark.session import persist_evictions

        sc = self.spark.sparkContext
        ev0 = persist_evictions()
        w0, p0 = time.time(), time.perf_counter()
        walls, spans = [], []
        for name in order:
            self.attempted += 1
            tag = f"{name}@p{idx}"
            if self.args.trace:
                sc.setJobGroup(tag, name)
            start = time.time()
            a = time.perf_counter()
            b = None
            try:
                df = self.queries[name].fn(self.spark, self.data)
                b = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            except Exception:
                self.failures.append((name, traceback.format_exc(limit=3)))
            c = time.perf_counter()
            b = b if b is not None else c
            walls.append(c - a)
            spans.append(
                {
                    "tag": tag,
                    "query": name,
                    "layer": layer_of(self.queries[name].fn.__module__),
                    "pass": idx,
                    "start_ms": start * 1000,
                    "end_ms": (start + c - a) * 1000,
                    "build_s": b - a,
                    "exec_s": c - b,
                }
            )
        wall = time.perf_counter() - p0
        figures = {
            "pass": idx,
            "start_ms": w0 * 1000,
            "end_ms": (w0 + wall) * 1000,
            "wall_s": wall,
            "geomean_s": statistics.geometric_mean(walls),
            "persist_evictions": persist_evictions() - ev0,
        }
        return figures, spans

    def measure(self) -> int:
        """Passes until ``--seconds`` is spent (at least two); a pass that
        would not finish in time is not started. Returns peak tree RSS."""
        rng = random.Random(self.args.seed)
        sampler = RssSampler()
        sampler.start()
        steal0 = cpu_steal_s()
        t0 = time.perf_counter()
        try:
            while True:
                order = list(self.workload.queries)
                rng.shuffle(order)
                figures, spans = self.run_pass(len(self.passes), order)
                self.passes.append(figures)
                self.spans.extend(spans)
                spent = time.perf_counter() - t0
                typical = statistics.median(p["wall_s"] for p in self.passes)
                if len(self.passes) >= 2 and spent + typical > self.args.seconds:
                    break
        finally:
            peak = sampler.stop()
            self.rss_at_peak = {
                f"{pid} {name}": rss / 2**20 for pid, (name, rss) in sampler.at_peak.items()
            }
        # Share of the machine's CPU time other guests took while we measured.
        wall = time.perf_counter() - t0
        self.steal_share = (cpu_steal_s() - steal0) / (wall * (os.cpu_count() or 1))
        return peak

    # -- output check ------------------------------------------------------

    def check(self, results: dict) -> None:
        from gen import TABLES
        from oracle import connect, mismatch

        con = connect(self.data, TABLES)
        try:
            for name, got in results.items():
                sql = self.queries[name].oracle
                if sql is None:
                    continue
                why = mismatch(got, con.sql(sql).df())
                if why is not None:
                    self.failures.append((name, "oracle mismatch: " + why))
        finally:
            con.close()

    # -- teardown ----------------------------------------------------------

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for every process they
        started (the JVM's Python workers too) to end."""
        tree = descendants(os.getpid())
        if self.spark is not None:
            self.app_id = self.spark.sparkContext.applicationId
            self.spark.stop()
            self.spark = None
        if "pyspark" in sys.modules:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        killed = reap(tree)
        if killed:
            print(f"perfbench: killed leftover processes {killed}", file=sys.stderr)

    # -- metrics -----------------------------------------------------------

    def end_to_end(self, peak_rss: int) -> dict[str, float]:
        return {
            "pass_s": statistics.median(p["wall_s"] for p in self.passes),
            "query_geomean_s": statistics.median(p["geomean_s"] for p in self.passes),
            "setup_s": sum(self.setup.values()),
            "peak_rss_mb": peak_rss / 2**20,
        }

    def per_layer(self) -> dict[str, float]:
        """Layer metrics of the median pass (by wall time): one pass, so the
        layers' build_s + exec_s add up to its summed query wall time."""
        import eventlog

        log = eventlog.read(self.eventlog, self.app_id)
        p = sorted(self.passes, key=lambda x: x["wall_s"])[(len(self.passes) - 1) // 2]
        spans = [s for s in self.spans if s["pass"] == p["pass"]]
        jobs = eventlog.attribute(
            log, [eventlog.Span(s["tag"], s["start_ms"], s["end_ms"]) for s in spans]
        )
        out = {f"{lay}.{f}": 0.0 for lay in LAYERS for f in LAYER_FIELDS}
        seen: set[int] = set()
        tot = eventlog.job_totals(log, [], seen)  # all zero
        for s in spans:
            t = eventlog.job_totals(log, jobs[s["tag"]], seen)
            lay = s["layer"]
            out[f"{lay}.build_s"] += s["build_s"]
            out[f"{lay}.exec_s"] += s["exec_s"]
            out[f"{lay}.jobs"] += t["jobs"]
            out[f"{lay}.tasks"] += t["tasks"]
            out[f"{lay}.executor_run_s"] += t["run_ms"] / 1000
            out[f"{lay}.shuffle_write_bytes"] += t["shuffle_write_bytes"]
            for k, v in t.items():
                tot[k] += v
        busy = eventlog.busy_ms(log.task_spans, p["start_ms"], p["end_ms"]) / 1000
        out.update(
            {
                **self.setup,
                "session.persist_evictions": p["persist_evictions"],
                "sources.input_bytes": tot["input_bytes"],
                "sources.output_bytes": tot["output_bytes"],
                "spark.jobs": tot["jobs"],
                "spark.stages": tot["stages"],
                "spark.tasks": tot["tasks"],
                "spark.executor_run_s": tot["run_ms"] / 1000,
                "spark.gc_s": tot["gc_ms"] / 1000,
                "spark.shuffle_read_bytes": tot["shuffle_read_bytes"],
                "spark.shuffle_write_bytes": tot["shuffle_write_bytes"],
                "spark.spill_bytes": tot["spill_bytes"],
                "spark.parallel_efficiency": tot["run_ms"] / 1000 / (p["wall_s"] * CPUS),
                "driver.no_task_s": max(0.0, p["wall_s"] - busy),
                "trace.pass_s": statistics.median(x["wall_s"] for x in self.passes),
            }
        )
        return out

    def overhead_line(self, traced_pass_s: float) -> str:
        """Tracing overhead against untraced records of the same configuration."""
        mine = self.stamp_
        runs_dir = os.path.dirname(self.record_path)
        base = []
        for f in os.listdir(runs_dir):
            try:
                with open(os.path.join(runs_dir, f)) as fh:
                    rec = json.load(fh)
            except (OSError, ValueError):
                continue
            st = rec.get("stamp", {})
            same = all(
                st.get(k) == mine[k]
                for k in ("workload", "seconds", "cpus", "driver_memory",
                          "source_digest", "bench_digest", "spark_version", "env")
            )
            if same and st.get("trace") == 0 and "pass_s" in rec.get("metrics", {}):
                base.append(rec["metrics"]["pass_s"])
        if not base:
            return "tracing overhead: no untraced run of this configuration recorded yet"
        ref = statistics.median(base)
        return (
            f"tracing overhead: {traced_pass_s - ref:+.4f} s per pass "
            f"(traced pass_s {traced_pass_s:.4f} - untraced median {ref:.4f} "
            f"over {len(base)} runs, {100 * (traced_pass_s / ref - 1):+.1f}%)"
        )

    # -- main --------------------------------------------------------------

    def run(self) -> tuple[dict[str, float], dict[str, str]]:
        """Set up, measure, stop, check; returns (metrics, units)."""
        self.prepare_env()
        self.stamp_ = self.stamp()
        print("stamp: " + json.dumps(self.stamp_, sort_keys=True), flush=True)
        self.generate()
        try:
            self.start()
            results = self.warm()
            peak = self.measure()
        finally:
            self.stop()
        self.check(results)
        if self.args.trace:
            return self.per_layer(), per_layer_units()
        return self.end_to_end(peak), END_TO_END


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PKG, "registry.py")):
        print(f"perfbench: no {PKG} package next to {HERE}", file=sys.stderr)
        return 2

    # A terminated run still stops its JVM and deletes its scratch files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = Bench(args)
    try:
        metrics, units = bench.run()
        failed = len(bench.failures)
        for name, why in bench.failures:
            print(f"FAILED {name}: {why.strip().splitlines()[-1]}", file=sys.stderr)
        build = sum(s["build_s"] for s in bench.spans)
        wall = sum(s["build_s"] + s["exec_s"] for s in bench.spans)
        walls = [round(p["wall_s"], 3) for p in bench.passes]
        print(
            f"passes: {len(walls)} {walls}; build share of query wall {build / wall:.1%}; "
            f"cpu steal while measuring {bench.steal_share:.1%}"
        )
        print(f"error_rate: {failed / bench.attempted:.4f} ratio ({failed}/{bench.attempted})")
        for k, v in metrics.items():
            print(f"{k}: {v:.6g} {units[k]}")
        if args.trace:
            layers = sum(metrics[f"{lay}.{f}"] for lay in LAYERS for f in ("build_s", "exec_s"))
            print(
                f"median pass: layers' build_s + exec_s {layers:.4f} s; "
                f"build share {sum(metrics[f'{lay}.build_s'] for lay in LAYERS) / layers:.1%}"
            )
            print(bench.overhead_line(metrics["trace.pass_s"]))
        record = {
            "stamp": bench.stamp_,
            "metrics": metrics,
            "setup": bench.setup,
            "passes": bench.passes,
            "spans": bench.spans,
            "failures": bench.failures,
            "steal_share": bench.steal_share,
            "rss_mb_at_peak": bench.rss_at_peak,
            "attempted": bench.attempted,
        }
        with open(bench.record_path, "w") as fh:
            json.dump(record, fh, indent=1)
        result = {
            "correct": failed == 0,
            "attempted": bench.attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(bench.scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
