"""Round-13 pins: the two new registrations (collapsed PPJoin, simhash
horizon), the composed raw-ingest ordering (r12 verdict #7), and the
r12-advice hardening (ragged-embedding guard, collapsed n_sh hash
parity, bench driver-artifact overwrite guard)."""

from __future__ import annotations

import os
import shutil

import pytest

from tests.conftest import SF_SMOKE


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_registrations_and_oracle_identities():
    """The r13 registrations stay registered with their contract
    oracles."""
    from osm_poi_database_maker_spark import queries as q

    assert "doc_ppjoin_collapsed" in q.QUERIES
    assert "stream_simhash_dedup_horizon" in q.QUERIES
    assert "emb_zscore_ood" in q.QUERIES
    assert q.ORACLES["doc_ppjoin_collapsed"] == q.ORACLES["doc_ppjoin_pairs"]
    assert "row_number() OVER (PARTITION BY band, bucket, doc_id // " in (
        q.ORACLES["stream_simhash_dedup_horizon"]
    )
    # the horizon oracle's string surgery must actually have fired: the
    # two oracles may not be byte-identical
    assert (
        q.ORACLES["stream_simhash_dedup_horizon"]
        != q.ORACLES["stream_simhash_dedup"]
    )


def test_registered_collapsed_query_matches_direct(spark):
    """The registered surface q_doc_ppjoin_collapsed == q_doc_ppjoin_pairs
    row-for-row on the fixture (the property that lets ORACLE_PPJOIN
    serve both)."""
    from osm_poi_database_maker_spark.queries.dedup import (
        q_doc_ppjoin_collapsed,
        q_doc_ppjoin_pairs,
    )

    assert _rows(q_doc_ppjoin_collapsed(spark, SF_SMOKE)) == _rows(
        q_doc_ppjoin_pairs(spark, SF_SMOKE)
    )


def test_collapsed_nsh_counts_hashes_not_strings(spark):
    """r12 advice #3: within-cluster 'shared' must count distinct
    xxhash64(shingle) values — the direct path's key space — not
    distinct shingle strings. Pin via a twin cluster whose rep text has
    a repeated shingle: both paths must agree on 'shared' exactly
    (string counting would also agree here; the real pin is the plan —
    assert the within-cluster branch hashes before array_distinct)."""
    from osm_poi_database_maker_spark.queries.dedup import (
        ppjoin_pairs,
        ppjoin_pairs_collapsed,
    )

    # repeated shingle: "a b c a b c a b c" has shingles
    # {a b c, b c a, c a b} each ×3 → n_sh = 3 distinct
    text = "a b c a b c a b c"
    frame = spark.createDataFrame(
        [(1, text), (2, text), (3, text)], "doc_id long, text string"
    )
    got = {(r.doc_a, r.doc_b): r for r in ppjoin_pairs_collapsed(frame).collect()}
    assert set(got) == {(1, 2), (1, 3), (2, 3)}
    assert all(r.shared == 3 and r.jaccard == 1.0 for r in got.values())
    assert _rows(ppjoin_pairs_collapsed(frame)) == _rows(ppjoin_pairs(frame))
    # plan pin: the hash runs INSIDE the lambda (before array_distinct)
    plan = ppjoin_pairs_collapsed(frame)._jdf.queryExecution().analyzed().toString()
    assert "xxhash64(concat_ws" in plan


def test_curation_with_neardup_paths_identical(spark, tmp_path):
    """r12 verdict #7: the composed raw-ingest ordering (near-dup removal
    via PPJoin → curation) must produce the IDENTICAL curated row set
    whether the pair join runs through the collapsed scale path or the
    direct join — on a twin-heavy growth replica, the regime the
    collapsed path exists for."""
    import sys

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from scale_experiment import build_replica

    from osm_poi_database_maker_spark.queries.curation import (
        curation_with_neardup,
        q_doc_curation_pipeline,
    )

    dst = str(tmp_path / "growth4x_sf0001")
    build_replica(SF_SMOKE, dst, 4, "growth")
    try:
        fast = _rows(curation_with_neardup(spark, dst, collapsed=True))
        slow = _rows(curation_with_neardup(spark, dst, collapsed=False))
        assert fast == slow
        assert len(fast) > 0
        # the composition must actually bite on a twin-heavy ingest:
        # strictly fewer curated rows than the pipeline whose only dedup
        # is exact stage-1 (near-dups survive that one)
        plain = _rows(q_doc_curation_pipeline(spark, dst))
        assert len(fast) < len(plain)
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_zscore_ood_ragged_embeddings_raise(spark, tmp_path):
    """r12 advice #2: a ragged embedding collection must fail LOUDLY
    with the dimensionality message, not a numpy stacking artifact."""
    import numpy as np
    import pandas as pd  # noqa: F401

    from osm_poi_database_maker_spark.queries.similarity import q_emb_zscore_ood

    # tmp_path, not a shared /tmp literal: parallel sessions must not
    # collide on the fixture dir (r13 advice #1).
    ragged_dir = str(tmp_path / "ragged_emb")
    os.makedirs(ragged_dir, exist_ok=True)
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.table(
        {
            "vec_id": pa.array([1, 2, 3], pa.int64()),
            "embedding": pa.array(
                [
                    np.arange(8, dtype=np.float32),
                    np.arange(8, dtype=np.float32),
                    np.arange(5, dtype=np.float32),  # ragged row
                ],
                pa.list_(pa.float32()),
            ),
        }
    )
    pq.write_table(tbl, os.path.join(ragged_dir, "embeddings.parquet"))
    try:
        with pytest.raises(Exception, match="ragged embeddings"):
            q_emb_zscore_ood(spark, ragged_dir).collect()
    finally:
        shutil.rmtree(ragged_dir, ignore_errors=True)


def test_bench_driver_artifact_never_overwritten(tmp_path, monkeypatch):
    """r12 advice #1: once BENCH_LOCAL and BENCH_DRIVER both exist for
    the round, further runs must suffix -2/-3 — never clobber.

    r13 advice #4: exercises bench.pick_dest ITSELF (the single
    implementation main() calls), not a test-local replica that could
    drift from bench.py's real branch logic.
    """
    import bench

    repo = str(tmp_path)
    (tmp_path / "BENCH_r12.json").write_text("{}")

    seen = []
    for _ in range(4):
        dest = bench.pick_dest(repo)
        seen.append(os.path.basename(dest))
        open(dest, "w").write("{}")
    assert seen == [
        "BENCH_LOCAL_r13.json",
        "BENCH_DRIVER_r13.json",
        "BENCH_DRIVER_r13-2.json",
        "BENCH_DRIVER_r13-3.json",
    ]
