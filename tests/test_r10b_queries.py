"""Round-10 late additions: dynamic partition pruning, the Q21-shaped
sole-late-supplier rewrite, Fleiss' kappa, and the lang-id ECE audit."""

from __future__ import annotations

import duckdb

from tests.conftest import SF_SMOKE


def test_dpp_scan_prunes_at_runtime(spark):
    """The calendar-dim join must reach the orders scan as a
    dynamicpruning PartitionFilter (NOT a static IN-list and NOT a
    post-scan filter) — the runtime analogue of the static prune
    test_layout.py pins."""
    from osm_poi_database_maker_spark.queries.core import (
        _DPP_QUARTER,
        _quarter_months,
        q_orders_dpp_scan,
    )

    df = q_orders_dpp_scan(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan
    rows = df.collect()
    assert rows, "Q2-1995 must be non-empty in the fixture"
    assert {r["o_month"] for r in rows} <= set(_quarter_months(_DPP_QUARTER))


def test_late_sole_supplier_edge_semantics(spark, tmp_path):
    """The four decisive cases, hand-built: single-supplier order
    (excluded even when late), two-supplier order with BOTH late
    (excluded), two-supplier order with exactly one late (counted
    ONCE even when the late supplier shipped two late lines), and an
    open-status order (excluded)."""
    from osm_poi_database_maker_spark.queries.core import (
        q_late_sole_supplier_orders,
    )

    d = str(tmp_path / "sf")
    orders = [
        (1, 10, "F", 1.0, "1995-01-01 00:00:00", "1-URGENT"),
        (2, 10, "F", 1.0, "1995-01-01 00:00:00", "1-URGENT"),
        (3, 10, "F", 1.0, "1995-01-01 00:00:00", "1-URGENT"),
        (4, 10, "O", 1.0, "1995-01-01 00:00:00", "1-URGENT"),
    ]
    late, ontime = "1995-06-01 00:00:00", "1995-01-15 00:00:00"
    lineitem = [
        (1, 100, 7, 1, late),    # order 1: sole supplier, late → excluded
        (2, 100, 7, 1, late),    # order 2: suppliers 7 & 8 both late → excluded
        (2, 101, 8, 2, late),
        (3, 100, 7, 1, late),    # order 3: only supplier 7 late (twice) → 1 blame
        (3, 101, 7, 2, late),
        (3, 102, 8, 3, ontime),
        (4, 100, 7, 1, late),    # order 4: status 'O' → excluded
        (4, 101, 8, 2, ontime),
    ]
    supplier = [(7, "S7", 0, 0.0), (8, "S8", 0, 0.0)]
    spark.createDataFrame(
        [(k, c, s, p, __import__("datetime").datetime.fromisoformat(dt), pr)
         for (k, c, s, p, dt, pr) in orders],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [
            (ok, pk, sk, ln, 1.0, 1.0, 0.0, 0.0, "N", "O",
             __import__("datetime").datetime.fromisoformat(sd))
            for (ok, pk, sk, ln, sd) in lineitem
        ],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        supplier, "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/supplier.parquet")

    got = [tuple(r) for r in q_late_sole_supplier_orders(spark, d).collect()]
    assert got == [(7, "S7", 1, 1)]


def test_fleiss_kappa_unanimous_raters(spark, tmp_path):
    """When every document gets a unanimous verdict (some all-keep,
    some all-drop) the observed agreement is 1 and kappa must be
    exactly 1.0 regardless of the keep marginal."""
    from osm_poi_database_maker_spark.queries.text import q_doc_fleiss_kappa

    d = str(tmp_path / "docs")
    keep_text = ("the a of and to " * 10).strip()  # 50 tokens, all stopwords
    drop_text = "xyz"
    rows = [
        (1, keep_text, "en", "a", 200),
        (2, keep_text, "en", "a", 200),
        (3, drop_text, "en", "a", 3),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    row = q_doc_fleiss_kappa(spark, d).collect()[0]
    assert (row["n_k3"], row["n_k0"]) == (2, 1)
    assert row["p_bar"] == 1.0
    assert row["kappa"] == 1.0


def test_lang_calibration_ece_is_weighted_gap_mean(spark):
    """The ece column must equal the n-weighted mean of the per-bin
    rounded gaps, be constant across rows, and every bin must sit in
    [0, 9]."""
    from osm_poi_database_maker_spark.queries.text import q_doc_lang_calibration

    rows = q_doc_lang_calibration(spark, SF_SMOKE).collect()
    assert rows
    assert len({r["ece"] for r in rows}) == 1
    assert all(0 <= r["bin"] <= 9 for r in rows)
    n = sum(r["n_docs"] for r in rows)
    want = round(sum(r["n_docs"] * r["abs_gap"] for r in rows) / n, 4)
    assert abs(rows[0]["ece"] - want) < 1e-9


def test_fleiss_kappa_single_category_degenerate(spark, tmp_path):
    """When EVERY doc is unanimously 'keep', chance agreement P_e = 1
    and kappa is 0/0 — BOTH engines must yield NULL (Spark non-ANSI
    and DuckDB both null out division by zero), not Inf/NaN on one
    side only."""
    from osm_poi_database_maker_spark.queries.text import (
        ORACLE_FLEISS_KAPPA,
        q_doc_fleiss_kappa,
    )

    d = str(tmp_path / "docs")
    keep_text = ("the a of and to " * 10).strip()
    rows = [(i, keep_text, "en", "a", 200) for i in range(3)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = q_doc_fleiss_kappa(spark, d).collect()[0]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = con.sql(ORACLE_FLEISS_KAPPA).fetchall()[0]
    assert got["p_e"] == 1.0 and want[7] == 1.0
    assert got["kappa"] is None and want[8] is None


def test_lang_calibration_zero_marker_docs_bin(spark, tmp_path):
    """Docs with NO language-marker hits must land in the uniform
    1/5-confidence bin (bin 2, conf 0.2) identically in both engines —
    the tot = 0 branch."""
    from osm_poi_database_maker_spark.queries.text import (
        ORACLE_LANG_CALIBRATION,
        q_doc_lang_calibration,
    )

    d = str(tmp_path / "docs")
    rows = [
        (1, "zzz qqq www", "de", "a", 11),   # zero markers, truth 'de':
        (2, "zzz qqq www", "en", "a", 11),   # argmax tie-break predicts 'de'
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = sorted(tuple(r) for r in q_doc_lang_calibration(spark, d).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(ORACLE_LANG_CALIBRATION).fetchall())
    assert got == want
    assert len(got) == 1 and got[0][0] == 2          # the uniform bin
    assert got[0][2] == 0.2 and got[0][3] == 0.5     # conf 1/5, 1 of 2 correct


def test_jackknife_ci_constant_metric_collapses(spark, tmp_path):
    """If every row carries the SAME value, every leave-one-group-out
    mean equals the full mean, so jk_se must be exactly 0 and the CI
    must collapse onto the point estimate."""
    from osm_poi_database_maker_spark.queries.profiling import (
        q_lineitem_jackknife_ci,
    )

    d = str(tmp_path / "sf")
    rows = [
        (i, 1, 1, i % 7 + 1, 1.0, 50.0, 0.10, 0.0, "N", "O",
         __import__("datetime").datetime(1995, 1, 1))
        for i in range(400)
    ]
    spark.createDataFrame(
        rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    row = q_lineitem_jackknife_ci(spark, d).collect()[0]
    # 50.00 * (1 - 0.10) = 45.0 exactly in the integer-cent domain
    assert row["mean_disc_price"] == 45.0
    assert row["jk_se"] == 0.0
    assert row["ci_lo"] == row["ci_hi"] == 45.0
    assert row["g_groups"] == 20 and row["n_rows"] == 400


def test_phash_brightness_shift_invariant(spark, tmp_path):
    """A uniform brightness shift moves only the DC coefficient, so the
    63-bit AC signature must be IDENTICAL — the structural property
    that makes pHash survive exposure changes that flip every aHash
    bit. Built from two byte-wise-shifted 64-byte tiles."""
    from osm_poi_database_maker_spark.multimodal import (
        documents_as_image_table,
        image_phash,
    )

    d = str(tmp_path / "docs")
    base = bytes((i * 7) % 64 + 33 for i in range(64)).decode("ascii")
    shifted = bytes(b + 20 for b in base.encode("ascii")).decode("ascii")
    rows = [(1, base, "en", "a", 64), (2, shifted, "en", "a", 64)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    from osm_poi_database_maker_spark.io import load_table

    sigs = {
        r["doc_id"]: r["phash"]
        for r in image_phash(
            documents_as_image_table(load_table(spark, d, "documents"))
        ).collect()
    }
    assert sigs[1] == sigs[2]
    assert sigs[1] > 0  # a real signature, not the empty fallback


def test_split_leakage_labels_later_split_doc(spark, tmp_path):
    """Hand-built embeddings: two identical vectors whose Lehmer fold
    puts one in train and one in val must produce exactly one
    train→val leakage cell with the VAL doc counted as contaminated;
    an identical within-train twin pair must contaminate nothing."""
    from osm_poi_database_maker_spark.queries.curation import (
        _SPLIT_TRAIN,
        _SPLIT_VAL,
        _lehmer_u,
    )
    from osm_poi_database_maker_spark.queries.similarity import (
        q_emb_split_leakage,
    )
    from pyspark.sql import functions as F

    # find ids per split deterministically with the SAME fold
    ids = spark.range(1, 4000).select(
        F.col("id"), _lehmer_u(F.col("id")).alias("u")
    )
    train_ids = [r["id"] for r in ids.filter(F.col("u") < _SPLIT_TRAIN).head(2)]
    val_id = ids.filter(
        (F.col("u") >= _SPLIT_TRAIN) & (F.col("u") < _SPLIT_VAL)
    ).head(1)[0]["id"]

    vec_a = [1.0] + [0.0] * 63
    vec_b = [0.0, 1.0] + [0.0] * 62  # orthogonal to vec_a → never a pair
    rows = [
        (train_ids[0], vec_a, 0),   # train twin 1
        (train_ids[1], vec_a, 0),   # train twin 2 (within-split pair)
        (val_id, vec_a, 0),         # val twin → contaminated by both
        (3999, vec_b, 0),
    ]
    d = str(tmp_path / "sf")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    got = {
        (r["split_lo"], r["split_hi"]): (r["n_pairs"], r["n_contaminated"])
        for r in q_emb_split_leakage(spark, d).collect()
    }
    assert got[("train", "val")] == (2, 1)   # two cross pairs, ONE val doc
    assert got[("train", "train")] == (1, 0)  # twin pair contaminates nothing
    assert ("val", "test") not in got


def test_lang_calibration_null_lang_counts_incorrect(spark, tmp_path):
    """A NULL lang must count as INCORRECT (0) in both engines — not
    drop out of Spark's avg() as NULL while the oracle's CASE keeps it."""
    from osm_poi_database_maker_spark.queries.text import (
        ORACLE_LANG_CALIBRATION,
        q_doc_lang_calibration,
    )

    d = str(tmp_path / "docs")
    rows = [
        (1, "the the the of and", "en", "a", 18),
        (2, "the the the of and", None, "a", 18),  # NULL lang → incorrect
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = sorted(tuple(r) for r in q_doc_lang_calibration(spark, d).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(ORACLE_LANG_CALIBRATION).fetchall())
    assert got == want
    assert len(got) == 1 and got[0][3] == 0.5  # accuracy counts the NULL as 0


def test_toxicity_leetspeak_normalization(spark, tmp_path):
    """Obfuscated variants (SL0W, b1g, dup→dup) must hit the blocklist
    after the leet fold, identically in both engines."""
    from osm_poi_database_maker_spark.queries.text import (
        ORACLE_TOXICITY,
        q_doc_toxicity_lexicon,
    )

    d = str(tmp_path / "docs")
    rows = [
        (1, "SL0W query b1g table", "en", "a", 20),  # two leet hits
        (2, "clean fast query", "en", "a", 16),      # no hits → absent
        (3, "d4p nope", "en", "a", 8),               # d4p → dap, NOT dup
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = sorted(tuple(r) for r in q_doc_toxicity_lexicon(spark, d).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = sorted(tuple(r) for r in con.sql(ORACLE_TOXICITY).fetchall())
    assert got == want
    assert len(got) == 1 and got[0][0] == 1
    assert got[0][3] == "big,slow"  # folded, deduped, sorted


def test_power_analysis_formula_consistency(spark):
    """n_required_per_arm must equal the closed form recomputed from the
    emitted rates, and powered_now must match achieved_z vs z_a+z_b."""
    import math

    from osm_poi_database_maker_spark.queries.behavior import (
        _Z_ALPHA,
        _Z_BETA,
        q_events_power_analysis,
    )
    from tests.conftest import SF_SMOKE

    r = q_events_power_analysis(spark, SF_SMOKE).collect()[0]
    # branch on the QUERY's own verdict, not the 6-dp-rounded lift: a
    # sub-5e-7 true delta rounds to 0 while n_required is non-NULL
    if r["n_required_per_arm"] is None:
        # NULL design size only when the true delta (or an arm) degenerated
        assert r["observed_lift"] in (0.0, None)
        assert r["powered_now"] is False
        return
    pa, pb = r["rate_a"], r["rate_b"]
    assert pa is not None and pb is not None
    var_sum = pa * (1 - pa) + pb * (1 - pb)
    delta = r["observed_lift"]
    if delta != 0:
        want_n = math.ceil((_Z_ALPHA + _Z_BETA) ** 2 * var_sum / delta**2)
        # recomputed from 6-dp-rounded rates → allow 1% slack on the count
        assert abs(r["n_required_per_arm"] - want_n) <= max(2, 0.01 * want_n)
    # powered_now uses the UNROUNDED z; only assert outside the 4-dp
    # rounding band around the threshold
    z_tot = _Z_ALPHA + _Z_BETA
    if abs(r["achieved_z"] - z_tot) > 1e-3:
        assert r["powered_now"] == (r["achieved_z"] >= z_tot)
