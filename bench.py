"""Benchmark harness: run every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line {"metric", "value", "unit", "queries", "sf"}.

Each query executes via the noop sink (full pipeline execution, no
driver-side collect cost). A warmup query absorbs JVM/session startup.

Per-query times are the MEDIAN of $SPARK_GRAFT_BENCH_RUNS (default 3)
interleaved rounds — the host shows ~1.5× total variance from CPU steal,
so single runs are noise; interleaving rounds (run all queries, repeat)
rather than back-to-back repeats keeps one steal burst from biasing one
query's whole sample. "value" is the sum of medians.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# In-session controls (SCALE.md adjudication protocol, automated per the
# r11 verdict): eight plan-stable queries spanning the cost range AND
# both execution families (six JVM-side + two Python-worker-side, r12
# verdict #5) whose times are copied into a dedicated "controls" block
# of the JSON, so cross-round normalization (environment drift vs plan
# regression) is a one-liner instead of a hand-computed median ratio —
# and JVM drift is separable from Python/numpy-worker drift. Chosen for
# plan stability (the same set SCALE.md's manual adjudications used) —
# do not rewrite these queries casually.
CONTROL_QUERIES = (
    "customer_order_distribution",
    "doc_quantile_normalize",
    "emb_label_centroids",
    "events_cusum_changepoints",
    "brand_supplier_counts",
    "orders_referential_integrity",
    # Python-worker-family controls (r12 verdict #5): the six above are
    # all JVM-side plans, so driver-vs-local drift in the Python/numpy
    # worker family (Python DataSource scans, mapInPandas/mapInArrow)
    # was previously inseparable from JVM drift. These two are
    # plan-stable members of that family — one Python DataSource scan,
    # one numpy-in-Arrow-batch pipeline.
    "osm_pbf_source_scan",
    "mm_audio_energy",
)

import __spark_entry__ as entrymod  # noqa: E402
from osm_poi_database_maker_spark.session import get_spark  # noqa: E402


def pick_dest(repo: str) -> str:
    """Destination for this run's bench JSON under first-run-wins.

    Pure function of the repo dir's contents so the artifact policy has
    exactly one implementation (r13 advice #4): the round's first full
    run owns BENCH_LOCAL_r{N}.json, the second lands in
    BENCH_DRIVER_r{N}.json, and any further run suffixes -2/-3/… —
    nothing is ever clobbered. N = 1 + the highest driver-written
    BENCH_r*.json. Tests call this directly instead of replicating it.
    """
    rounds = [
        int(m.group(1))
        for f in os.listdir(repo)
        if (m := re.fullmatch(r"BENCH_r(\d+)\.json", f))
    ]
    rnd = max(rounds, default=0) + 1
    dest = os.path.join(repo, f"BENCH_LOCAL_r{rnd:02d}.json")
    if os.path.exists(dest):
        # First-run-wins applies to the driver artifact too: a
        # third/fourth run in the same round must not clobber the
        # driver's recorded numbers — suffix -2/-3/… instead.
        dest = os.path.join(repo, f"BENCH_DRIVER_r{rnd:02d}.json")
        k = 2
        while os.path.exists(dest):
            dest = os.path.join(repo, f"BENCH_DRIVER_r{rnd:02d}-{k}.json")
            k += 1
    return dest


def env_block(spark) -> dict:
    """The execution environment a run's times belong to: the effective
    master, parallelism, shuffle partitions, AQE flags and host cores."""
    sc, conf = spark.sparkContext, spark.conf
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
        "aqe": conf.get("spark.sql.adaptive.enabled").lower() == "true",
        "aqe_coalesce": conf.get(
            "spark.sql.adaptive.coalescePartitions.enabled"
        ).lower() == "true",
        "cpu_count": os.cpu_count(),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    spark = get_spark("bench")
    # streaming queries run real availableNow streams with checkpoint
    # setup — fixed-overhead-dominated at bench SF, so timed separately
    # from the throughput-relevant batch queries were they included;
    # excluded here to keep the headline metric a query-engine number
    qs = {k: v for k, v in entrymod.queries().items() if not k.startswith("stream_")}

    # warmup: session + parquet footer caches (best-effort)
    try:
        next(iter(qs.values()))(spark, sf_dir).write.format("noop").mode("overwrite").save()
    except Exception:  # noqa: BLE001 - the timed loop will record the error
        pass

    # One failing query must not zero out the whole round's bench evidence:
    # record it under "errors" and keep timing everything else.
    samples: dict[str, list[float]] = {name: [] for name in qs}
    errors: dict[str, str] = {}
    for _ in range(n_runs):
        for name, fn in qs.items():
            if name in errors:
                continue
            t0 = time.time()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001
                errors[name] = str(exc).split("\n")[0][:300]
                samples.pop(name, None)
                continue
            samples[name].append(time.time() - t0)

    timings = {name: round(statistics.median(ts), 3) for name, ts in samples.items()}
    total = round(sum(timings.values()), 3)
    # Key order matters downstream: the driver's record keeps only the
    # LAST ~2000 chars of this line, so the headline keys (value, errors,
    # slowest) go AFTER the large queries dict or they get truncated away.
    out = {
        "metric": "total_query_runtime",
        "unit": "sec",
        "queries": timings,
        "slowest": dict(
            sorted(timings.items(), key=lambda kv: -kv[1])[:10]
        ),
        "controls": {n: timings[n] for n in CONTROL_QUERIES if n in timings},
        "sf": sf,
        "runs_per_query": n_runs,
        "n_queries": len(timings),
        "env": env_block(spark),
        "value": total,
    }
    if errors:
        # A crashed query shrinks the total silently — flag the run as
        # partial so totals are only compared between identical query sets.
        out["errors"] = errors
        out["partial"] = True
    # Durability: the driver keeps only the last ~2000 chars of stdout, so
    # per-query history for most of the registry would otherwise live only
    # in that tail. Persist the FULL dict to BENCH_LOCAL_r{N}.json, where
    # N = 1 + the highest driver-written BENCH_r*.json (the driver writes
    # BENCH_r{N} after running us, so the current round is max+1).
    #
    # Artifact policy (r11 verdict #2): the round's FIRST full run — the
    # builder's committed idle-host close — owns BENCH_LOCAL_r{N}.json;
    # it is NEVER overwritten. Any later run the same round (the driver's
    # end-of-round re-run on a shared-load host) lands in
    # BENCH_DRIVER_r{N}.json instead, so committed close numbers stay the
    # committed close numbers and cross-round diffs never read phantom
    # environment drift as a regression. SPARK_GRAFT_BENCH_OUT overrides
    # the destination outright (used by ad-hoc experiments).
    try:
        dest = os.environ.get("SPARK_GRAFT_BENCH_OUT") or pick_dest(REPO)
        with open(dest, "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
    except OSError:
        pass  # a read-only checkout must not fail the bench
    print(json.dumps(out))


if __name__ == "__main__":
    main()
