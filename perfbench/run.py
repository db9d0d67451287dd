"""Benchmark of the engine: two workloads, one command.

Usage (from the repository root):

    python3 perfbench/run.py --workload ep1_pbf_to_copy --seed 1 --seconds 20 --trace 0

Workloads:

* ``ep1_pbf_to_copy``: the reference's job (PBF → cascade → hstore/WKB →
  COPY lines, noop sink) over a PBF generated from the seed;
* ``registry_mix``: registry queries over tables generated from the seed,
  build-bound ones (eager rounds of many small jobs) and execution-bound
  ones (a few large jobs, and the queries that share memo caches).

A run starts one Spark session on ``local[TASK_THREADS]``, generates its
inputs from the seed, warms up with one round that also collects every
output for the correctness gate, then runs a fixed number of operations:
``--seconds`` divided by a per-workload budget, so a slower engine takes
longer rather than doing less. Their times are reported scaled to a
reference host speed (see ``CALIB_REF_S``). The gate compares the
collected outputs with independent DuckDB computations after the timed
phase.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` the run repeats the timed
operations under the span tracer (``spans.py``) and times the EP1 layers,
and the metrics are the per-layer ones. The line before it is the full
report (environment, input checksums, warm-up record, per-operation
times), which is also written under ``perfbench/.work/reports``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import asdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Registry queries, build-bound first: their time goes to eager rounds of
# many small jobs while the DataFrame is built.
BUILD_BOUND = (
    "customer_dag_min_paths",
    "customer_referral_closure",
    "customer_referral_rollup",
)
# Execution-bound: a few large shuffle jobs, plus the memo-cache groups
# (the first member of each pair fills the cache, the second reuses it).
EXEC_BOUND = (
    "lineitem_price_outliers_mad",
    "doc_ppjoin_pairs",
    "brand_supplier_counts",
    "mm_audio_energy",
    "doc_dedup_clusters",
    "doc_graph_pagerank",
    "doc_bpe_merges",
    "doc_bpe_encode",
    "doc_sequence_packing",
)
EP1_NODES = 50_000
PROBE_NODES = 20_000  # EP1 layer probe input on the registry workload

# Seconds one operation (EP1: a pass; registry: a round over every query)
# takes on a 4-core host at the commit that defined the benchmark. The
# timed phase runs round(--seconds / budget) of them, at least MIN_OPS.
BUDGET_S = {"ep1_pbf_to_copy": 7.0, "registry_mix": 17.0}
MIN_OPS = {"ep1_pbf_to_copy": 2, "registry_mix": 1}
WORKLOADS = tuple(BUDGET_S)
# Task threads: two leave the other cores to the JIT compiler, the garbage
# collector and Spark's Python workers, whose timing otherwise shows up
# in the task threads' timings.
TASK_THREADS = 2

# Host speed. This host's per-core speed moves by about a fifth from one
# second to the next and by up to two fifths for a minute at a time (other
# tenants), and every engine timing in a run moves with it. A fixed
# pure-Python loop, which touches neither the engine nor Spark, is timed
# before every timed operation; the run's host factor is CALIB_REF_S over
# the median loop time, and the end-to-end times are reported scaled by
# it, i.e. at the reference host speed. The raw times are in the report.
CALIB_LOOP = 200_000
CALIB_REF_S = 0.0175  # median loop time between operations on the reference host
CALIB_SAMPLES = 5

END_TO_END = {"setup_s": "s", "wall_s": "s", "query_p50_s": "s"}
PER_LAYER = {
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "queries.build_jobs": "count",
    "queries.exec_jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.single_task_stages": "count",
    "trace.overhead_s": "s",
    "pbf.index_s": "s",
    "pbf.inflate_s": "s",
    "pbf.decode_s": "s",
    "pbf.blobs": "count",
    "pbf.entities": "count",
    "pbf.decode_entities_per_s": "1/s",
    "pbf.read_pbf.scan_s": "s",
    "pbf.read_pbf.tasks": "count",
    "pbf.read_pbf.decode_passes": "count",
    "pipeline.cascade_s": "s",
    "pipeline.rows_in": "count",
    "pipeline.rows_out": "count",
    "pipeline.quarantined_rows": "count",
    "geo.wkb_s": "s",
    "geo.assemble_rings_s": "s",
    "sink.copy_s": "s",
    "sink.copy_rows": "count",
    "sink.copy_bytes": "bytes",
    "peak_rss_mb": "MB",
    "host.calib_s": "s",
}


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _prepare_env(scratch: str, cpus: int) -> None:
    """Environment for the session; must run before the JVM starts."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [ROOT, *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ.update(
        {
            # Spark's Python workers import the engine by module path
            "PYTHONPATH": os.pathsep.join(path),
            "SPARK_GRAFT_CPUS": str(cpus),
            # ample for these inputs; the host's memory is shared
            "SPARK_GRAFT_DRIVER_MEM": "2g",
            "SPARK_LOCAL_DIRS": os.path.join(scratch, "spark-local"),
            "SPARK_GRAFT_WAREHOUSE": os.path.join(scratch, "warehouse"),
            "TMPDIR": tmp,
            # keep the JVM's temp and perf-data files out of /tmp
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        }
    )


def _env_block(spark, args, cpus: int) -> dict:
    import pyspark

    sc = spark.sparkContext
    conf = spark.conf
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    )
    return {
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        **{k: conf.get(k, None) for k in keys},
        "task_threads": cpus,
        "nproc": len(os.sched_getaffinity(0)),
        "cpu_count": os.cpu_count(),
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "seed": args.seed,
    }


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Ep1:
    """``ep1_pbf_to_copy``: one operation is one full PBF → COPY pass."""

    def __init__(self, spark, scratch: str, seed: int) -> None:
        import ep1
        import gen_osm

        self.spark = spark
        self.path = os.path.join(scratch, "input.osm.pbf")
        self.ents = gen_osm.generate(seed, EP1_NODES)
        blobs = gen_osm.write_pbf(self.path, self.ents)
        self.input = {
            "file": "input.osm.pbf",
            "sha256": _sha256(self.path),
            "bytes": os.path.getsize(self.path),
            "blobs": blobs,
            **gen_osm.counts(self.ents),
        }
        self.entities = sum(gen_osm.counts(self.ents).values())
        self.ops = [("ep1_pass", lambda: ep1.copy_rows(spark, self.path))]
        self.collected: dict[str, tuple[list[str], list[tuple]]] = {}

    def expected(self, name: str) -> tuple[list[str], list[tuple]]:
        import gen_osm

        return ["osm_type", "id", "copy_line"], gen_osm.oracle_rows(self.ents)

    def layers(self, tracer) -> dict:
        import ep1

        return ep1.layer_metrics(self.spark, self.path, tracer)


class Registry:
    """``registry_mix``: one operation is one query, built and executed."""

    def __init__(self, spark, scratch: str, seed: int) -> None:
        import __spark_entry__ as entry
        import gen_tables

        self.spark = spark
        self.scratch, self.seed = scratch, seed
        # the directory name carries the scale factor, as in the test data
        self.sf_dir = os.path.join(scratch, "sf0.01")
        rows = gen_tables.write_tables(seed, self.sf_dir)
        digest = hashlib.sha256()
        for t in gen_tables.TABLES:
            digest.update(bytes.fromhex(_sha256(os.path.join(self.sf_dir, f"{t}.parquet"))))
        self.input = {"sf": 0.01, "sha256": digest.hexdigest(), "rows": rows}
        queries, self.oracles = entry.queries(), entry.oracle_sql()
        self.ops = [
            (n, (lambda fn=queries[n]: fn(spark, self.sf_dir)))
            for n in BUILD_BOUND + EXEC_BOUND
        ]
        self.collected: dict[str, tuple[list[str], list[tuple]]] = {}
        self._duck = None

    def expected(self, name: str) -> tuple[list[str], list[tuple]]:
        import duckdb

        if self._duck is None:
            import gen_tables

            self._duck = duckdb.connect()
            for t in gen_tables.TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                self._duck.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
                )
        rel = self._duck.sql(self.oracles[name])
        return list(rel.columns), rel.fetchall()

    def layers(self, tracer) -> dict:
        """The EP1 layers on a smaller PBF from the same seed: a control
        that a change aimed at the registry should leave alone."""
        import ep1
        import gen_osm

        path = os.path.join(self.scratch, "probe.osm.pbf")
        gen_osm.write_pbf(path, gen_osm.generate(self.seed, PROBE_NODES))
        return ep1.layer_metrics(self.spark, path, tracer)


# ---------------------------------------------------------------------------
# phases
# ---------------------------------------------------------------------------


def _calibrate() -> list[float]:
    """CALIB_SAMPLES timings of the host-speed loop."""
    out = []
    for _ in range(CALIB_SAMPLES):
        t0 = time.perf_counter()
        x = 0
        for i in range(CALIB_LOOP):
            x += i * i
        out.append(time.perf_counter() - t0)
    return out


def _run_op(build, sink) -> tuple[float, str | None]:
    t0 = time.perf_counter()
    try:
        sink(build())
    except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
        return time.perf_counter() - t0, traceback.format_exc(limit=3)
    return time.perf_counter() - t0, None


def _gate(wl, report: dict) -> tuple[int, int]:
    """Compare each collected output with its oracle; (attempted, failed)."""
    from tools.check import _hash_rows

    checks = {}
    for name, _ in wl.ops:
        try:
            if name not in wl.collected:
                raise RuntimeError("no output collected in warm-up")
            cols, rows = wl.collected[name]
            ecols, erows = wl.expected(name)
            ok = (
                sorted(cols) == sorted(ecols)
                and len(rows) == len(erows)
                and _hash_rows(cols, rows) == _hash_rows(ecols, erows)
            )
            checks[name] = {"rows": len(rows), "expected_rows": len(erows), "ok": ok}
        except Exception:  # noqa: BLE001 - a broken check counts as a failure
            checks[name] = {"ok": False, "error": traceback.format_exc(limit=3)}
    report["gate"] = checks
    return len(checks), sum(not c["ok"] for c in checks.values())


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "osm_poi_database_maker_spark")):
        print(f"engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]

    cpus = min(TASK_THREADS, len(os.sched_getaffinity(0)))
    scratch = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    _prepare_env(scratch, cpus)
    spark = None
    try:
        t_setup = time.perf_counter()
        from osm_poi_database_maker_spark.session import get_spark

        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t_setup
        from spans import Span, Tracer, noop

        if args.workload == "ep1_pbf_to_copy":
            wl = Ep1(spark, scratch, args.seed)
        else:
            wl = Registry(spark, scratch, args.seed)
        report = {
            "workload": args.workload,
            "env": {**_env_block(spark, args, cpus), "input_sha256": wl.input["sha256"]},
            "input": wl.input,
        }

        # warm-up: one round, which also collects every output for the gate
        warmup = {}
        for name, build in wl.ops:

            def collect(df, name=name):
                wl.collected[name] = (df.columns, [tuple(x) for x in df.collect()])

            warmup[name], err = _run_op(build, collect)
            if err:
                report.setdefault("errors", []).append({"warmup": name, "error": err})
        setup_s = time.perf_counter() - t_setup
        report["warmup"] = warmup

        n_ops = max(MIN_OPS[args.workload], round(args.seconds / BUDGET_S[args.workload]))
        samples: dict[str, list[float]] = {name: [] for name, _ in wl.ops}
        calib: list[float] = []
        failed = attempted = 0
        for _ in range(n_ops):
            for name, build in wl.ops:
                calib += _calibrate()
                dt, err = _run_op(build, noop)
                attempted += 1
                samples[name].append(dt)
                if err:
                    failed += 1
                    report.setdefault("errors", []).append({"op": name, "error": err})
        per_op = [t for ts in samples.values() for t in ts]
        wall_s = sum(per_op)
        host_calib_s = statistics.median(calib)
        factor = CALIB_REF_S / host_calib_s
        report["ops"] = samples
        report["raw"] = {"wall_s": wall_s, "query_p50_s": statistics.median(per_op)}
        report["host"] = {"calib_s": host_calib_s, "factor": factor}

        metrics = {
            "setup_s": setup_s,
            "wall_s": wall_s * factor,
            "query_p50_s": report["raw"]["query_p50_s"] * factor,
        }
        if args.workload == "ep1_pbf_to_copy":
            report["entities_per_s"] = wl.entities / report["raw"]["query_p50_s"]

        layer = {}
        if args.trace:
            tracer = Tracer(spark.sparkContext)
            per_query: dict[str, Span] = {}
            t0 = time.perf_counter()
            for _ in range(n_ops):
                for name, build in wl.ops:
                    per_query.setdefault(name, Span()).add(tracer.run(build))
            traced_wall = time.perf_counter() - t0
            total = Span()
            for span in per_query.values():
                total.add(span)
            report["queries"] = {n: asdict(sp) for n, sp in per_query.items()}
            layer = {
                "session.start_s": session_s,
                "host.calib_s": host_calib_s,
                **{f"queries.{k}": v for k, v in asdict(total).items()},
                "trace.overhead_s": traced_wall - wall_s,
                **wl.layers(tracer),
            }

        g_attempted, g_failed = _gate(wl, report)
        attempted += g_attempted
        failed += g_failed

        jvm_pid = spark.sparkContext._gateway.proc.pid
        report["peak_rss_mb"] = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
        if args.trace:
            layer["peak_rss_mb"] = report["peak_rss_mb"]
        report["metrics"] = metrics
        report["layers"] = layer
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(scratch, ignore_errors=True)

    units = {**END_TO_END, **PER_LAYER}
    chosen = layer if args.trace else metrics
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, "reports", name), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    print(json.dumps(report, sort_keys=True))
    print(json.dumps(out))
    return 0


def _stop(spark) -> None:
    """Stop the session, then the JVM it started, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
