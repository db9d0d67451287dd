"""r14 verdict item 7: 16x growth-mode points on the FINAL r15 tree for
the top-cost adjudicated families — emb_knn_graph / emb_label_smoothing
(exact-kNN blocked matmul, quadratic BY CONTRACT, ANN swap documented)
and the PPJoin family (lossless prefix-filter pair join, cap-guarded).

Growth mode replicates documents/embeddings VERBATIM (every row gains
15 twins), so pair-producing operators face a ~N^2-harder PROBLEM —
the regime the r12/r13 SCALE.md rows measured. This rerun proves the
adjudicated shapes hold their documented growth AFTER the r14/r15
shingle, config and plan changes.

Usage: python tools/scale16_r15.py [N]   (default 16)
Prints one JSON line: per query, warm wall at 1x and Nx + the ratio.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

from scale_experiment import build_replica  # noqa: E402

QUERIES_UNDER_TEST = [
    "doc_ppjoin_pairs",
    "doc_ppjoin_collapsed",
    "emb_knn_graph",
    "emb_label_smoothing",
]


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    dst = f"/tmp/scale_growth_{n}x_r15"
    if not os.path.isdir(dst):
        build_replica(src, dst, n, "growth")

    from osm_poi_database_maker_spark.queries import QUERIES
    from osm_poi_database_maker_spark.session import get_spark

    spark = get_spark("scale16-r15")

    def timed(name: str, sf_dir: str) -> tuple[float, int]:
        walls, rows = [], 0
        for i in range(3):  # cold + 2 warm; warm median reported
            spark.sparkContext.setJobDescription(f"scale16:{name}:{sf_dir}:{i}")
            t0 = time.time()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            walls.append(time.time() - t0)
        rows = QUERIES[name](spark, sf_dir).count()
        return statistics.median(walls[1:]), rows

    out = {}
    for name in QUERIES_UNDER_TEST:
        w1, r1 = timed(name, src)
        wn, rn = timed(name, dst)
        out[name] = {
            "wall_1x": round(w1, 2),
            f"wall_{n}x": round(wn, 2),
            "ratio": round(wn / w1, 2),
            "rows_1x": r1,
            f"rows_{n}x": rn,
        }
        print(f"# {name}: {w1:.2f}s -> {wn:.2f}s ({wn / w1:.1f}x), rows {r1} -> {rn}")
    print(json.dumps({"mult": n, "mode": "growth", "queries": out}))


if __name__ == "__main__":
    main()
