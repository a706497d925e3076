"""Invariant tests for the round-10 additions — the composed
end-to-end reference pipeline (FITS → tailcut → Hillas → assess →
score sink), the SAES / differential-evolution specific sweeps, the
at-scale fallback guards (minhash verify join, BPE coalesce), and the
ADVICE r09 hardening of fits_encode — structural and semantic
properties parity alone doesn't state (SURVEY.md §5.2).
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import data_pipeline_standalone_scripts_spark as engine
from data_pipeline_standalone_scripts_spark.registry import REGISTRY
from data_pipeline_standalone_scripts_spark.sources.multimodal import (
    fits_encode,
    fits_parse,
)

engine.load_all_operators()

SF = "/root/testdata/sf0.001"


# --- at-scale fallback guards (VERDICT r09 #5) -------------------------------


def _plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_minhash_verify_guard_branches(spark, monkeypatch):
    """The verify stage's doc→token-array broadcast must be a size-
    CONDITIONAL branch: under the default cap the fixture broadcasts;
    with the cap forced to 0 the same op plans plain doc_id joins —
    and both branches return identical values."""
    from data_pipeline_standalone_scripts_spark.operators import llm

    reg = REGISTRY["q_minhash_lsh"]
    # disable Catalyst's size-based auto-broadcast so the plan shows
    # the OPERATOR's branch, not the optimizer re-broadcasting the
    # tiny fixture side anyway
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small_df = reg.fn(spark, SF)
        plan_small = _plan_of(small_df)
        with monkeypatch.context() as m:
            m.setattr(llm, "_TOKEN_ARRAYS_BROADCAST_MAX_BYTES", 0)
            big_df = reg.fn(spark, SF)
        plan_big = _plan_of(big_df)
        big = sorted(map(tuple, big_df.collect()))
        small = sorted(map(tuple, small_df.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert small == big and len(small) > 0
    # the two verify joins flip strategy with the branch
    assert (
        plan_small.count("BroadcastHashJoin")
        > plan_big.count("BroadcastHashJoin")
    ), (plan_small.count("BroadcastHashJoin"), plan_big.count("BroadcastHashJoin"))
    assert plan_big.count("SortMergeJoin") > plan_small.count("SortMergeJoin")


def test_minhash_containment_unknown_size_no_broadcast(spark, monkeypatch):
    """Unknown documents size (table_bytes = 0, e.g. a non-local URI)
    must drop the token-array broadcast hint in the containment query
    too — the same guard as q_minhash_lsh's verify stage."""
    from data_pipeline_standalone_scripts_spark.operators import dedup_ext, llm

    for mod in (llm, dedup_ext):
        monkeypatch.setattr(mod, "table_bytes", lambda *a: 0, raising=False)
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _plan_of(REGISTRY["q_minhash_containment"].fn(spark, SF))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert "BroadcastHashJoin" not in plan


def test_bpe_coalesce_guard_branches(spark, monkeypatch):
    """q_bpe_merge's single-task tail (coalesce(1)) must drop out when
    the bigram table exceeds the row cap — forced here via the module
    constants — with identical values either way."""
    from data_pipeline_standalone_scripts_spark.operators import corpus

    reg = REGISTRY["q_bpe_merge"]
    df_default = reg.fn(spark, SF)
    assert "Coalesce" in _plan_of(df_default)
    base = sorted(map(tuple, df_default.collect()))
    # force past BOTH guard levels: the zero-job corpus-bytes
    # short-circuit and the cached row-count cap
    monkeypatch.setattr(corpus, "_BPE_COUNT_PROBE_MIN_BYTES", 0)
    monkeypatch.setattr(corpus, "_BPE_COALESCE_MAX_ROWS", 0)
    df_big = reg.fn(spark, SF)
    assert "Coalesce" not in _plan_of(df_big)
    forced = sorted(map(tuple, df_big.collect()))
    assert base == forced and len(base) > 0


# --- fits_encode hardening (ADVICE r09 #2) ----------------------------------


def _mk_hdr(w: int = 4, h: int = 3) -> dict:
    return {
        "SIMPLE": "T",
        "BITPIX": "16",
        "NAXIS": "2",
        "NAXIS1": str(w),
        "NAXIS2": str(h),
        "BZERO": "32768",
        "BSCALE": "1",
        "OBJECT": "'DOC1'",
    }


def test_fits_encode_rejects_overlong_card():
    """A value that formats past 80 chars must raise, not silently
    truncate (the old .ljust(80)[:80] corrupted it)."""
    hdr = _mk_hdr()
    hdr["OBJECT"] = "'" + "X" * 75 + "'"  # 8+2+77 > 80
    phys = np.zeros((3, 4))
    with pytest.raises(ValueError, match="card"):
        fits_encode(hdr, phys)


def test_fits_encode_left_justifies_quoted_strings():
    """FITS fixed-format: a character string opens with its quote at
    column 11 (index 10), left-justified — not right-justified to
    column 30."""
    hdr = _mk_hdr()
    payload = fits_encode(hdr, np.zeros((3, 4)))
    cards = [payload[i : i + 80].decode("ascii") for i in range(0, 2880, 80)]
    obj = next(c for c in cards if c.startswith("OBJECT"))
    assert obj[10] == "'", obj  # quote at column 11
    # and non-string values still right-justify to column 30
    bp = next(c for c in cards if c.startswith("BITPIX"))
    assert bp[:30].endswith("16") and bp[10] == " ", bp


# --- composed end-to-end pipeline (X63) -------------------------------------


def test_pipeline_e2e_consistent_with_stage_ops(spark):
    """The fused pipeline must agree with its standalone stages:
    X58's kept counts and X62's ellipse on every shared image, plus
    integer-exact assess identities (mse·n = e_in − e_kept ≥ 0,
    0 < energy_ratio ≤ 1) and a parseable integer-only score_json."""
    import json

    e2e = {
        r["media_id"]: r
        for r in REGISTRY["q_pipeline_e2e"].fn(spark, SF).collect()
    }
    hillas = {
        r["media_id"]: r for r in REGISTRY["q_hillas_2d"].fn(spark, SF).collect()
    }
    tailcut = {
        r["media_id"]: r for r in REGISTRY["q_tailcut_2d"].fn(spark, SF).collect()
    }
    assert set(e2e) == set(hillas)  # same <3-kept drop rule
    for mid, r in e2e.items():
        h = hillas[mid]
        t = tailcut[mid]
        assert (r["n_core"], r["n_rescued"], r["n_kept"]) == (
            t["n_core"],
            t["n_rescued"],
            t["n_kept"],
        )
        for c in ("size", "cog_x", "cog_y", "length", "width", "psi"):
            assert r[c] == h[c], (mid, c)
        assert 0.0 < r["energy_ratio"] <= 1.0
        assert r["mse"] >= 0.0
        j = json.loads(r["score_json"])
        assert j["media_id"] == mid and j["n_kept"] == r["n_kept"]
        assert all(isinstance(v, int) for v in j.values())


# --- SAES / DE semantics (X64/X65) ------------------------------------------


def test_saes_sigma_self_adapts(spark):
    """SAES must actually evolve step sizes: generation-0 σ is uniform
    0.01; later generations must contain at least two DISTINCT σ
    values (the ×2/×½ self-adaptation fired), and every σ stays
    positive. Comma selection: each generation has exactly 8 members
    numbered 0..7."""
    rows = REGISTRY["q_saes_sweep"].fn(spark, SF).collect()
    by_gen = {}
    for r in rows:
        by_gen.setdefault(r["gen"], []).append(r)
    assert set(by_gen) == {0, 1, 2}
    for g, rs in by_gen.items():
        assert sorted(r["member"] for r in rs) == list(range(8))
        assert all(r["sigma"] > 0 for r in rs)
        assert all(r["lo"] < r["hi"] for r in rs)
    assert {r["sigma"] for r in by_gen[0]} == {0.01}
    later = {r["sigma"] for r in by_gen[1]} | {r["sigma"] for r in by_gen[2]}
    assert len(later) >= 2, f"sigma never adapted: {later}"


def test_de_greedy_selection_is_monotone(spark):
    """DE/rand/1/bin greedy 1-vs-1 replacement: each member's score
    is non-decreasing across generations (the defining invariant of
    DE selection — population-wide rank selection would not give
    this per-slot guarantee)."""
    rows = REGISTRY["q_de_rand1bin"].fn(spark, SF).collect()
    score = {}
    for r in sorted(rows, key=lambda r: (r["member"], r["gen"])):
        k = r["member"]
        if k in score:
            assert r["score"] >= score[k] - 1e-9, (k, r["gen"])
        score[k] = r["score"]
        assert r["lo"] < r["hi"]


def test_fits_encode_roundtrip_after_justify_change():
    """parse∘encode∘parse stays the identity on header fields and
    physical pixels after the justification change."""
    hdr = _mk_hdr()
    phys = (np.arange(12, dtype=np.float64)).reshape(3, 4)
    p = fits_encode(hdr, phys)
    hdr2, phys2 = fits_parse(p)
    assert hdr2 == hdr
    assert np.array_equal(phys, phys2)


_FITS_STRING = st.text(
    # printable FITS-legal ASCII incl. the quote (escaped as '') and
    # '/' — the two characters that broke naive card parsing/writing
    alphabet=st.sampled_from(
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 '/-_."
    ),
    min_size=0,
    max_size=16,
)


@settings(max_examples=60, deadline=None)
@given(
    w=st.integers(1, 9),
    h=st.integers(1, 7),
    bitpix=st.sampled_from([8, 16, 32, -32, -64]),
    bzero=st.sampled_from([0, 32768]),
    obj=_FITS_STRING,
    seed=st.integers(0, 2**31 - 1),
)
def test_fits_roundtrip_property(w, h, bitpix, bzero, obj, seed):
    """Property: parse∘encode∘parse is the identity over random
    dimensions, every BITPIX type, the unsigned-short BZERO
    convention, and OBJECT strings containing quotes (escaped '')
    and slashes — the card-value classes ADVICE r08/r09 flagged."""
    if bitpix != 16:
        # the BZERO=32768 unsigned-short convention belongs to int16
        # payloads; on float BITPIX the offset legitimately costs
        # float32 ulps (raw = phys − 32768 at magnitude 2^15), and
        # uint8 can't absorb it at all
        bzero = 0
    rng = np.random.RandomState(seed)
    if bitpix > 0:
        lo, hi_v = {8: (0, 255), 16: (0, 4095), 32: (0, 1 << 20)}[bitpix]
        phys = rng.randint(lo, hi_v + 1, size=(h, w)).astype(np.float64)
        phys += bzero if bitpix != 16 else 0
    else:
        phys = rng.randn(h, w).astype(
            np.float32 if bitpix == -32 else np.float64
        ).astype(np.float64)
    hdr = {
        "SIMPLE": "T",
        "BITPIX": str(bitpix),
        "NAXIS": "2",
        "NAXIS1": str(w),
        "NAXIS2": str(h),
        "BZERO": str(bzero),
        "BSCALE": "1",
        "OBJECT": "'" + obj.replace("'", "''") + "'",
    }
    p = fits_encode(hdr, phys)
    assert len(p) % 2880 == 0
    hdr2, phys2 = fits_parse(p)
    assert hdr2 == hdr
    assert phys2.shape == (h, w)
    assert np.array_equal(phys, phys2)


# --- WARC/WET ingestion (X66) -------------------------------------------------


def test_warc_framing_is_content_length_only():
    """Bodies may legally contain CRLF CRLF and the WARC magic; the
    record walk must frame on Content-Length, never on delimiters."""
    from data_pipeline_standalone_scripts_spark.sources.multimodal import (
        warc_gz_member,
        warc_parse_record,
        warc_record,
        warc_split_members,
    )

    nasty = b"a\r\n\r\nWARC/1.0\r\nContent-Length: 99\r\n\r\nb"
    blob = warc_gz_member(warc_record(3, nasty)) + warc_gz_member(
        warc_record(4, b"")
    )
    recs = [warc_parse_record(r) for r in warc_split_members(blob)]
    assert len(recs) == 2
    assert recs[0]["body"] == nasty
    assert recs[1]["body"] == b""
    assert recs[0]["headers"]["WARC-Type"] == "response"


def test_warc_rejects_malformed_records():
    from data_pipeline_standalone_scripts_spark.sources.multimodal import (
        warc_parse_record,
        warc_record,
    )

    good = warc_record(1, b"xyz")
    with pytest.raises(ValueError, match="magic"):
        warc_parse_record(good.replace(b"WARC/1.0", b"WARC/9.9"))
    with pytest.raises(ValueError, match="shorter"):
        warc_parse_record(good[:-5])  # drop terminator + 1 body byte
    with pytest.raises(ValueError, match="terminator"):
        warc_parse_record(good[:-4] + b"XXXX")


def test_warc_tolerant_walker_flags_instead_of_raising():
    """ADVICE r10: rec_ok must be REAL — a malformed record yields a
    sentinel (-1, '', b'', 0) row and the walk continues to the next
    member; a corrupt DEFLATE stream ends the blob with one sentinel
    (no resync point exists past a bad gzip member)."""
    from data_pipeline_standalone_scripts_spark.sources.multimodal import (
        warc_gz_member,
        warc_record,
        warc_record_fields_tolerant,
    )

    good = warc_gz_member(warc_record(7, b"alpha beta"))
    bad_rec = warc_gz_member(
        warc_record(8, b"x").replace(b"WARC/1.0", b"WARC/9.9")
    )
    tail = warc_gz_member(warc_record(9, b"gamma"))
    rows = list(warc_record_fields_tolerant(good + bad_rec + tail))
    assert [r[3] for r in rows] == [1, 0, 1]
    assert rows[0][:3] == (7, "example-7.test", b"alpha beta")
    assert rows[1] == (-1, "", b"", 0)
    assert rows[2][0] == 9 and rows[2][2] == b"gamma"

    # corrupt gzip member: one sentinel, walk ends (members chain via
    # unused_data — nothing after a broken DEFLATE stream is framable)
    corrupt = good + b"\x1f\x8b\x08\x00junkjunkjunk" + tail
    rows2 = list(warc_record_fields_tolerant(corrupt))
    assert rows2[0][3] == 1 and rows2[-1] == (-1, "", b"", 0)
    assert len(rows2) == 2


def test_warc_extract_survives_malformed_and_binary_records(spark, monkeypatch):
    """End-to-end pin of X66's ingestion posture: one blob holding a
    good record, a bad-magic record, and a structurally-valid record
    with a non-UTF-8 body must produce three rows — rec_ok 1/0/0 —
    not a task failure (the at-scale binaryFile path meets all three
    in any real crawl)."""
    from data_pipeline_standalone_scripts_spark.sources import (
        multimodal as srcmod,
    )
    from data_pipeline_standalone_scripts_spark.sources.multimodal import (
        warc_gz_member,
        warc_record,
    )

    blob = (
        warc_gz_member(warc_record(0, b"hello crawl world"))
        + warc_gz_member(warc_record(1, b"y").replace(b"WARC/1.0", b"WARC/9.9"))
        + warc_gz_member(warc_record(2, b"\xff\xfe\xfd"))
    )

    def fake_table(spark_, sf_dir_):
        return spark_.createDataFrame(
            [(0, bytearray(blob))], schema="blob_id long, payload binary"
        )

    monkeypatch.setattr(srcmod, "warc_table", fake_table)
    out = REGISTRY["q_warc_extract"].fn(spark, "unused").orderBy("doc_id").collect()
    assert [(r.doc_id, r.rec_ok) for r in out] == [(-1, 0), (0, 1), (2, 0)]
    ok = [r for r in out if r.doc_id == 0][0]
    assert ok.n_tokens == 3 and ok.content_length == 17
    binrec = [r for r in out if r.doc_id == 2][0]
    assert binrec.content_length == 3 and binrec.n_tokens == 0


@settings(max_examples=40, deadline=None)
@given(
    bodies=st.lists(
        st.binary(min_size=0, max_size=64), min_size=1, max_size=5
    ),
    base=st.integers(0, 10**9),
)
def test_warc_roundtrip_property(bodies, base):
    """Property: member-split ∘ concat ∘ gzip ∘ record is the identity
    on any byte bodies, in order."""
    from data_pipeline_standalone_scripts_spark.sources.multimodal import (
        warc_gz_member,
        warc_parse_record,
        warc_record,
        warc_split_members,
    )

    blob = b"".join(
        warc_gz_member(warc_record(base + i, b)) for i, b in enumerate(bodies)
    )
    recs = [warc_parse_record(r) for r in warc_split_members(blob)]
    assert [r["body"] for r in recs] == bodies
    ids = [int(r["headers"]["WARC-Record-ID"].rstrip(">").split("-")[-1]) for r in recs]
    assert ids == [base + i for i in range(len(bodies))]


def test_web_curation_lockstep_with_l2_and_exact_dedup(spark):
    """X67's docstring claims its quality gate IS L2's predicate set
    and its dedup IS L4's min-keeper rule — force the copies to move
    together: recompute the per-host report's totals from
    q_text_quality_filter's doc set and a direct min-per-text keeper
    pass, and require exact agreement."""
    from pyspark.sql import functions as F

    from data_pipeline_standalone_scripts_spark.tables import load

    rep = REGISTRY["q_web_curation_e2e"].fn(spark, SF).collect()
    l2 = {
        r["doc_id"]
        for r in REGISTRY["q_text_quality_filter"].fn(spark, SF).collect()
    }
    docs = load(spark, SF, "documents")
    n_total = docs.count()
    keepers = {
        r["k"]
        for r in docs.groupBy("text").agg(F.min("doc_id").alias("k")).collect()
    }
    assert sum(r["n_docs"] for r in rep) == n_total
    assert sum(r["n_dups"] for r in rep) == n_total - len(keepers)
    assert sum(r["n_kept"] for r in rep) == len(l2 & keepers)
