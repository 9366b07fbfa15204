"""Semantic tests for the LLM-pipeline operators: the synthesized
duplicates MUST be found, ANN must agree with exact search on most of
top-k, multimodal decode must round-trip the Arrow batches."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreducer_spark.operators.dedup import (
    _LSH_MAX_BUCKET,
    dedup_exact,
    dedup_minhash_lsh,
    minhash_lsh_pairs,
    neardup_jaccard_blocked,
)
from mapreducer_spark.operators.multimodal import decoded_assets
from mapreducer_spark.operators.similarity import (
    ann_ivf_topk,
    embedding_neardup,
    similarity_topk,
)


def test_dedup_exact_finds_all_synthesized(spark, sf_dir):
    res = dedup_exact(spark, sf_dir)
    dup_groups = res.where(F.col("n_copies") > 1)
    # Every doc_id % 10 == 0 was duplicated once; keeper must be the
    # original (min id), copies exactly 2.
    rows = dup_groups.collect()
    assert len(rows) == 50  # 500 docs / 10
    assert all(r.n_copies == 2 for r in rows)
    assert all(r.keeper_doc_id < 1000000 for r in rows)


def test_minhash_lsh_finds_synthesized_neardups(spark, sf_dir):
    pairs = dedup_minhash_lsh(spark, sf_dir).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # doc_id % 5 == 0 got a variant at id+3000000 with the last token
    # dropped -> Jaccard ~1. MinHash with 4 bands of 4 rows catches
    # near-identical sets with probability ~1; require >= 95% recall.
    expected = {(i, i + 3000000) for i in range(0, 500, 5)}
    recall = len(found & expected) / len(expected)
    assert recall >= 0.95, f"LSH recall too low: {recall}"


def test_minhash_lsh_megabucket_guard_bounds_pairs(spark):
    """A boilerplate corpus (1.2k near-identical docs -> one LSH bucket
    per band) must NOT trigger the O(m^2) in-array pair expansion: above
    _LSH_MAX_BUCKET the bucket is split into <=64-member chunks (full
    pairs within a chunk, one hub link per extra chunk), so the output is
    O(m) pairs that still span the duplicate cluster — connected
    components recovers the full clique."""
    n = 1200
    assert n > _LSH_MAX_BUCKET
    docs = spark.createDataFrame(
        [(i, "the same boilerplate header text repeated everywhere")
         for i in range(n)],
        ["doc_id", "text"],
    )
    pairs = minhash_lsh_pairs(docs).collect()
    # Identical docs share every band bucket -> 19 chunks (18x64 + 48):
    # intra-chunk pairs 18*C(64,2) + C(48,2) plus 18 hub links = 37,434
    # distinct verified pairs.  The unguarded quadratic expansion would
    # emit m*(m-1)/2 = 719,400 — the guard keeps it O(m).
    full, part = divmod(n, _LSH_MAX_BUCKET)
    expected = (
        full * (_LSH_MAX_BUCKET * (_LSH_MAX_BUCKET - 1) // 2)
        + part * (part - 1) // 2
        + full + (1 if part else 0) - 1
    )
    assert len(pairs) == expected, f"guard failed: {len(pairs)} pairs"
    # Every doc is reachable from the hub via its chunk -> downstream
    # connected components still yields ONE cluster over the whole group.
    ids = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert ids == set(range(n))
    assert all(r.jaccard == 1.0 for r in pairs)
    # Union-find sanity: the pair set is actually one connected component.
    parent = {i: i for i in range(n)}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        parent[find(r.id_a)] = find(r.id_b)
    assert len({find(i) for i in range(n)}) == 1


def test_blocked_jaccard_finds_synthesized_neardups(spark, sf_dir):
    pairs = neardup_jaccard_blocked(spark, sf_dir).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    expected = {(i, i + 3000000) for i in range(0, 500, 5)}
    # Blocking on the first token never separates a doc from its variant
    # (the variant only drops the LAST token) -> 100% recall here.
    assert expected <= found


def test_embedding_neardup_finds_scaled_copies(spark, sf_dir):
    pairs = embedding_neardup(spark, sf_dir).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    expected = {(i, i + 1000000) for i in range(0, 500, 20)}
    assert expected <= found
    # scaled copies have cosine exactly 1 after rounding
    exact_ones = [r for r in pairs if (r.id_a, r.id_b) in expected]
    assert all(abs(r.cos_sim - 1.0) < 1e-6 for r in exact_ones)


def test_ann_recall_vs_exact(spark, sf_dir):
    """Trained-centroid IVF vs exact search.  The fixture embeddings are
    isotropic random (measured: mean pairwise cosine ~0.000, std 0.125,
    no label structure), so recall is information-theoretically capped
    near the scan fraction (nprobe/nlist) — no quantizer can beat the
    curse of dimensionality on structureless data.  Measured with seeded
    KMeans: 0.38 (sf0.001) / 0.32 (sf0.01) at nprobe=2; deterministic,
    floor-asserted at 0.25.  On clustered real embeddings the same index
    sits far higher — ann_ivf_kmeans_recall is the per-deployment gauge."""
    exact = similarity_topk(spark, sf_dir).collect()
    approx = ann_ivf_topk(spark, sf_dir).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.q_id, set()).add(r.vec_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.q_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.25
    assert all(len(v) <= 10 for v in approx_sets.values())


def test_ann_full_probe_equals_exact(spark, sf_dir):
    """Routing-correctness invariant: probing ALL nlist clusters makes
    IVF scan everything, so the result must equal exact brute force
    row-for-row — any divergence is a bug in assignment/routing, not an
    approximation artifact."""
    from mapreducer_spark.operators.similarity import (
        _N_CENTROIDS,
        _centroid_list,
        _ivf_topk,
    )
    from mapreducer_spark.sources import load_table

    em = load_table(spark, sf_dir, "embeddings")
    full = _ivf_topk(em, _centroid_list(em, sf_dir), nprobe=_N_CENTROIDS)
    exact = similarity_topk(spark, sf_dir)
    got = {(r.q_id, r.vec_id, r.sim, r.rnk) for r in full.collect()}
    want = {(r.q_id, r.vec_id, r.sim, r.rnk) for r in exact.collect()}
    assert got == want


def test_multimodal_decode_roundtrip(spark, sf_dir):
    decoded = decoded_assets(spark, sf_dir)
    rows = decoded.collect()
    assert len(rows) == 500
    # Deterministic fake decode: dims derived from payload length.
    for r in rows[:20]:
        assert r.width == r.byte_len % 640 + 16
        assert r.height == r.byte_len % 480 + 16
        assert r.n_frames == 1


def _make_png(width: int, height: int) -> bytes:
    """Hand-built minimal valid PNG (no imaging libs needed): IHDR +
    zlib-compressed grayscale IDAT + IEND, CRCs included."""
    import struct
    import zlib

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(b"\x00" + bytes(width) for _ in range(height))
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def test_multimodal_decode_real_gated_on_pil():
    """Without PIL the real decoder must fail LOUDLY (never silently
    fake); with PIL it must read genuine image dimensions.  Mirrors the
    protobuf env-gate pattern: same test file is green either way, and
    exercises real bytes whenever the container allows."""
    import pytest

    from mapreducer_spark.operators.multimodal import _PILImage, _decode_real

    png = _make_png(23, 7)
    if _PILImage is None:
        with pytest.raises(NotImplementedError):
            _decode_real(png)
    else:
        assert _decode_real(png) == (23, 7)


def test_multimodal_real_content_type_routing(spark):
    """decode_image_batch must route image/png rows through the real
    decoder when PIL is importable and fall back to the deterministic
    fake otherwise — verified end-to-end through mapInPandas."""
    from mapreducer_spark.operators.multimodal import (
        DECODED_SCHEMA,
        _PILImage,
        decode_image_batch,
    )

    png = _make_png(23, 7)
    df = spark.createDataFrame(
        [(1, bytearray(png), "image/png", len(png))],
        "doc_id long, payload binary, content_type string, byte_len long",
    )
    row = df.mapInPandas(decode_image_batch, schema=DECODED_SCHEMA).collect()[0]
    if _PILImage is None:
        assert row.width == len(png) % 640 + 16
        assert row.height == len(png) % 480 + 16
    else:
        assert (row.width, row.height) == (23, 7)
    assert row.byte_len == len(png)


def test_multimodal_resize_bounds_output(spark, sf_dir):
    from mapreducer_spark.operators.multimodal import (
        _RESIZE_TARGET,
        resized_assets,
    )

    rows = resized_assets(spark, sf_dir).collect()
    assert len(rows) > 0
    w, h = _RESIZE_TARGET
    budget = w * h // 64
    for r in rows[:50]:
        assert r.width == w and r.height == h
        assert 0 < len(r.resized_bytes) <= budget


def test_multimodal_audio_features_deterministic(spark, sf_dir):
    import numpy as np

    from mapreducer_spark.operators.multimodal import (
        _AUDIO_WINDOW_BYTES,
        audio_features,
    )
    from mapreducer_spark.sources import load_table

    feats = audio_features(spark, sf_dir)
    got = {
        (r.doc_id, r.window_idx): (r.rms, r.zero_crossings)
        for r in feats.collect()
    }
    assert len(got) > 0
    # Recompute one document driver-side: the distributed result must be
    # bit-identical (Arrow roundtrip does not perturb the math).
    doc = (
        load_table(spark, sf_dir, "documents")
        .where("doc_id = 1")
        .select("text")
        .collect()[0]
    )
    payload = doc.text.encode("utf-8")
    samples = np.frombuffer(payload, dtype=np.int8).astype(np.float64)
    n_win = len(samples) // _AUDIO_WINDOW_BYTES
    assert n_win >= 1
    w0 = samples[:_AUDIO_WINDOW_BYTES]
    want_rms = round(float(np.sqrt(np.mean(w0 * w0))), 6)
    want_zc = int(np.sum(np.signbit(w0[:-1]) != np.signbit(w0[1:])))
    assert got[(1, 0)] == (want_rms, want_zc)


def test_approx_quantiles_bracket_exact(spark, sf_dir):
    """The GK-sketch twin must sit within the exact quantile neighborhood
    (rank error 1e-4 at accuracy=10000 -> exact on fixture cardinality).
    The registered approx_price_quantiles is now the exact two-phase
    selection (hash-checked against DuckDB's order statistic by the
    oracle gate at every scale); this test keeps the sketch path honest."""
    from mapreducer_spark.operators.reshape import gk_price_quantiles
    from mapreducer_spark.sources import load_table

    got = {
        r.o_orderpriority: (r.median_approx, r.p90_approx)
        for r in gk_price_quantiles(spark, sf_dir).collect()
    }
    o = load_table(spark, sf_dir, "orders")
    for prio, (med, p90) in got.items():
        vals = sorted(
            r.o_totalprice
            for r in o.where(F.col("o_orderpriority") == prio).collect()
        )
        import math

        lo_m = vals[max(0, math.floor(0.5 * (len(vals) - 1)) - 2)]
        hi_m = vals[min(len(vals) - 1, math.ceil(0.5 * (len(vals) - 1)) + 2)]
        assert lo_m <= med <= hi_m, (prio, med, lo_m, hi_m)
        lo_p = vals[max(0, math.floor(0.9 * (len(vals) - 1)) - 2)]
        hi_p = vals[min(len(vals) - 1, math.ceil(0.9 * (len(vals) - 1)) + 2)]
        assert lo_p <= p90 <= hi_p, (prio, p90, lo_p, hi_p)


def test_gram_matrix_matches_numpy(spark, sf_dir):
    """Distributed X'X must EXACTLY equal a single-node emulation of the
    same 2^40 fixed-point accumulation (order-invariance is the whole
    point), stay within rounding tolerance of plain float X'X, and be
    symmetric-complete (full upper triangle present)."""
    import numpy as np

    from mapreducer_spark.operators.similarity import (
        _GRAM_SCALE,
        embedding_gram_matrix,
    )
    from mapreducer_spark.sources import load_table

    rows = embedding_gram_matrix(spark, sf_dir).collect()
    emb = [
        r[0]
        for r in load_table(spark, sf_dir, "embeddings")
        .select("embedding")
        .collect()
    ]
    x = np.array(emb, dtype=np.float64)
    want = x.T @ x
    fixed = (
        np.floor((x[:, :, None] * x[:, None, :]) * _GRAM_SCALE)
        .astype(np.int64)
        .sum(axis=0)
    )
    d = x.shape[1]
    assert len(rows) == d * (d + 1) // 2
    for r in rows:
        # exact: same fixed-point value, same 6dp rounding
        assert r.gram == round(float(fixed[r.i][r.j]) / _GRAM_SCALE, 6)
        # and the fixed-point result is still ~the float matmul
        # (6dp output rounding + n*2^-40 truncation bias)
        assert abs(r.gram - want[r.i][r.j]) <= 5.1e-7 + 1e-8 * abs(want[r.i][r.j])


def test_doc_token_chunks_cover_and_overlap(spark, sf_dir):
    """Chunker invariants: chunks tile each document with the configured
    stride (chunk k starts at token k*stride + 1), every token of every
    doc appears in at least one chunk, non-tail chunks are full width,
    and consecutive chunks overlap by width - stride tokens."""
    from mapreducer_spark.operators.textstats import (
        _CHUNK_STRIDE,
        _CHUNK_WIDTH,
        doc_token_chunks,
        _tokens_col,
    )
    from mapreducer_spark.sources import load_table

    chunks = {}
    for r in doc_token_chunks(spark, sf_dir).collect():
        chunks.setdefault(r.doc_id, {})[r.chunk_id] = r
    n_tokens = {
        r.doc_id: r.n
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(_tokens_col()).alias("n"))
        .collect()
    }
    assert chunks  # corpus produces chunks
    for doc_id, by_id in chunks.items():
        n = n_tokens[doc_id]
        ids = sorted(by_id)
        # contiguous chunk ids starting at 0, covering all n tokens
        assert ids == list(range(len(ids)))
        assert (ids[-1] * _CHUNK_STRIDE) < n  # last chunk starts in-range
        covered = ids[-1] * _CHUNK_STRIDE + by_id[ids[-1]].n_tokens
        assert covered == n  # tail chunk ends exactly at the last token
        for i in ids[:-1]:
            assert by_id[i].n_tokens == min(
                _CHUNK_WIDTH, n - i * _CHUNK_STRIDE
            )
        # overlap: chunk i and i+1 share width - stride tokens (when full)
        for i in ids[:-1]:
            a = by_id[i].chunk_text.split(" ")
            b = by_id[i + 1].chunk_text.split(" ")
            if len(a) == _CHUNK_WIDTH:
                assert a[_CHUNK_STRIDE:] == b[: _CHUNK_WIDTH - _CHUNK_STRIDE]


def test_semdedup_catches_scaled_copies(spark, sf_dir):
    """Every synthesized scaled copy (same direction as its base ->
    same cluster, cosine exactly 1) must be reported dropped with its
    base as keeper; nothing may be dropped at cosine < threshold."""
    from mapreducer_spark.operators.similarity import semdedup_clusters

    rows = semdedup_clusters(spark, sf_dir).collect()
    dropped = {r.dropped_id: r for r in rows}
    for base in range(0, 500, 20):
        copy = base + 1000000
        assert copy in dropped, f"scaled copy {copy} not deduped"
        assert dropped[copy].keeper_id == base
        assert abs(dropped[copy].cos_to_keeper - 1.0) < 1e-6
    assert all(r.cos_to_keeper >= 0.999 for r in rows)


def test_exact_profile_similarity_refuses_past_cap(spark, sf_dir, monkeypatch):
    """The O(U^2) exact reference must refuse loudly past its user cap
    (VERDICT r4: scale-killer guardrail) instead of silently launching
    a quadratic plan; the blocked variant is the scale path."""
    import pytest as _pytest

    from mapreducer_spark.operators import events_time as et

    monkeypatch.setattr(et, "_MAX_EXACT_PROFILE_USERS", 1)
    with _pytest.raises(RuntimeError, match="blocked"):
        et.user_activity_similarity(spark, sf_dir)


def test_sequence_packing_invariants(spark, sf_dir):
    """Packing structure: offsets stay inside the context window, the
    stream is gapless (each doc starts exactly where the previous one
    ended, modulo the window), and sequence ids are non-decreasing in
    doc order."""
    from mapreducer_spark.operators.reshape import _PACK_CONTEXT, sequence_packing

    rows = sorted(
        sequence_packing(spark, sf_dir).collect(), key=lambda r: r.doc_id
    )
    assert rows
    stream_pos = 0
    prev_seq = 0
    for r in rows:
        assert 0 <= r.seq_offset < _PACK_CONTEXT
        assert r.seq_id * _PACK_CONTEXT + r.seq_offset == stream_pos
        assert r.crosses_boundary == (r.seq_offset + r.n_tokens > _PACK_CONTEXT)
        assert r.seq_id >= prev_seq
        prev_seq = r.seq_id
        stream_pos += r.n_tokens


# ---------------------------------------------------------------------------
# Round-5 operators: chunk dedup, PQ/ADC, CMS, weighted sampling, quality
# ---------------------------------------------------------------------------


def test_chunk_level_dedup_flags_synthesized_copies(spark, sf_dir):
    from mapreducer_spark.operators.dedup import chunk_level_dedup

    rows = {r.doc_id: r for r in chunk_level_dedup(spark, sf_dir).collect()}
    copies = [r for d, r in rows.items() if d >= 3000000]
    assert copies, "near-dup copies missing from corpus"
    # A copy differs from its original only by the dropped last token, so
    # every full 16-token chunk it contains already appeared at the
    # (lower-id) original: all but possibly the final short chunk dup.
    for r in copies:
        assert r.n_dup_chunks >= r.n_chunks - 1, r
    # Invariants: dup fraction bounded, kept tokens come only from kept
    # chunks (zero kept tokens <=> every chunk was a duplicate, and kept
    # tokens can never exceed 16 per kept chunk).
    for r in rows.values():
        assert 0.0 <= r.dup_frac <= 1.0
        assert r.n_dup_chunks <= r.n_chunks
        assert (r.kept_tokens == 0) == (r.n_dup_chunks == r.n_chunks), r
        assert r.kept_tokens <= 16 * (r.n_chunks - r.n_dup_chunks), r


def test_pq_codebook_vectors_reconstruct_exactly(spark, sf_dir):
    from mapreducer_spark.operators.similarity import _PQ_K, _PQ_M, embedding_pq_codes

    rows = {r.vec_id: r for r in embedding_pq_codes(spark, sf_dir).collect()}
    # Codebook members quantize to themselves: zero reconstruction error
    # and code m == own vec_id in every subspace.
    for vid in range(_PQ_K):
        r = rows[vid]
        assert r.recon_err == 0.0, r
        assert r.codes == "-".join([str(vid)] * _PQ_M), r
    # Everyone else: 8 codes, each in [0, 16), strictly positive error.
    for vid, r in rows.items():
        parts = r.codes.split("-")
        assert len(parts) == _PQ_M
        assert all(0 <= int(p) < _PQ_K for p in parts)


def test_adc_distance_is_plausible_proxy(spark, sf_dir):
    """ADC ranks by LUT sums over codes; it must broadly agree with the
    exact top-k neighbourhood (PQ is lossy, so require overlap, not
    equality)."""
    from mapreducer_spark.operators.similarity import ann_pq_adc_topk

    adc = ann_pq_adc_topk(spark, sf_dir).collect()
    by_q = {}
    for r in adc:
        by_q.setdefault(r.q_id, []).append(r)
    for q, rs in by_q.items():
        assert [r.rnk for r in sorted(rs, key=lambda x: x.rnk)] == list(
            range(1, len(rs) + 1)
        )
        assert all(r.adc_dist >= 0 for r in rs)
    exact = {
        (r.q_id, r.vec_id) for r in similarity_topk(spark, sf_dir).collect()
    }
    approx = {(r.q_id, r.vec_id) for r in adc}
    # Lossy-but-useful: some exact neighbours must survive compression.
    assert len(exact & approx) > 0


def test_cms_sketch_is_mergeable_and_one_sided(spark, sf_dir):
    from pyspark.sql import functions as SF

    from mapreducer_spark.operators.sketches import cms_heavy_hitters

    rows = cms_heavy_hitters(spark, sf_dir).collect()
    assert rows
    assert all(r.never_undercounts for r in rows)
    assert all(r.est_cnt >= r.exact_cnt for r in rows)
    assert all(r.overcount == r.est_cnt - r.exact_cnt for r in rows)

    # Mergeability: a CMS over each half of the stream, added cell-wise,
    # equals the CMS over the whole stream — the property that lets a
    # 1000-executor fleet (or 365 daily jobs) build one sketch.  Built
    # through the PRODUCTION grid builder (cms_cells), not an inline
    # copy, so the test can't drift from the real sketch.
    from mapreducer_spark.operators.sketches import cms_cells
    from mapreducer_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id")

    def sketch(df):
        return cms_cells(df.select("user_id"))

    full = {(r.j, r.cell): r.cnt for r in sketch(ev).collect()}
    lo = sketch(ev.where(SF.col("event_id") % 2 == 0)).collect()
    hi = sketch(ev.where(SF.col("event_id") % 2 == 1)).collect()
    merged = {}
    for r in [*lo, *hi]:
        merged[(r.j, r.cell)] = merged.get((r.j, r.cell), 0) + r.cnt
    assert merged == full


def test_cdc_chunks_resynchronize_after_insertion(spark):
    """The reason content-defined chunking exists: insert two tokens at
    a doc's HEAD and most CDC chunks survive (boundaries re-synchronize
    within ~W tokens), while fixed-width chunks all mis-align.  This is
    the property the cdc_chunk_dedup oracle can't see — the fixture's
    planted dups are tail-trims, which even fixed chunking handles."""
    import random

    from mapreducer_spark.operators.dedup import _DCHUNK_W, cdc_chunks

    rng = random.Random(5)
    base = [f"w{rng.randrange(500)}" for _ in range(120)]
    shifted = ["zzz", "qqq"] + base
    df = spark.createDataFrame(
        [(1, " ".join(base)), (2, " ".join(shifted))], "doc_id long, text string"
    )
    got = {}
    for r in cdc_chunks(df).collect():
        got.setdefault(r.doc_id, set()).add(r.c_text)
    shared_cdc = len(got[1] & got[2]) / len(got[1])

    def fixed(toks):
        return {
            " ".join(toks[i : i + _DCHUNK_W])
            for i in range(0, len(toks), _DCHUNK_W)
        }

    shared_fixed = len(fixed(base) & fixed(shifted)) / len(fixed(base))
    assert shared_cdc >= 0.6, (shared_cdc, shared_fixed)
    assert shared_cdc > shared_fixed
    # Fixed-width chunking loses essentially everything on a head shift.
    assert shared_fixed <= 0.2


def test_incremental_neardup_equals_full_recompute_delta(spark, sf_dir):
    """The incremental pass (new-side postings x full posting index)
    must find EXACTLY the full recompute's pairs that touch a new doc —
    same pairs, same Jaccard — and never emit an old-old pair.  This is
    the contract that lets a daily job replace a full corpus re-pass."""
    from mapreducer_spark.operators.dedup import (
        _INC_NEW_MOD,
        _INC_NEW_RES,
        incremental_neardup_pairs,
        neardup_jaccard_blocked,
    )

    def is_new(doc_id: int) -> bool:
        return doc_id % _INC_NEW_MOD == _INC_NEW_RES

    inc = {
        (r.id_a, r.id_b): (r.jaccard, r.pair_type)
        for r in incremental_neardup_pairs(spark, sf_dir).collect()
    }
    assert inc
    full = {
        (r.id_a, r.id_b): r.jaccard
        for r in neardup_jaccard_blocked(spark, sf_dir).collect()
    }
    expect = {
        pair: j for pair, j in full.items() if is_new(pair[0]) or is_new(pair[1])
    }
    assert {p: j for p, (j, _) in inc.items()} == expect
    for (a, b), (_, ptype) in inc.items():
        assert not (not is_new(a) and not is_new(b))  # no old-old
        assert ptype == ("new_new" if (is_new(a) and is_new(b)) else "new_old")
    # Both pair types must actually occur at gate scale, or the query
    # stops exercising the orientation logic.
    assert {t for _, t in inc.values()} == {"new_new", "new_old"}


def test_bloom_bitmap_is_mergeable_and_one_sided(spark, sf_dir):
    from pyspark.sql import functions as SF

    from mapreducer_spark.operators.sketches import (
        bloom_bitmap,
        bloom_decontamination,
    )
    from mapreducer_spark.sources import load_table

    rows = bloom_decontamination(spark, sf_dir).collect()
    assert rows
    # One-sided guarantee: the filter may overcount, never undercount.
    assert all(r.no_false_negatives for r in rows)
    assert all(r.bloom_hits >= r.exact_hits for r in rows)
    assert all(r.fp_grams == r.bloom_hits - r.exact_hits for r in rows)
    # The bitmap is sized so FPs exist but stay rare at test scale
    # (~1.7% theoretical); a saturated bloom (all grams flagged) or a
    # vacuous one (no FP ever) would both be sizing bugs.
    total = sum(r.n_grams for r in rows)
    fp = sum(r.fp_grams for r in rows)
    assert 0 < fp < 0.1 * total, (fp, total)
    # Exact contamination must agree with the dedicated exact pass.
    from mapreducer_spark.operators.curation import contamination_ngrams

    exact = {
        r.doc_id: r.n_shared_ngrams
        for r in contamination_ngrams(spark, sf_dir).collect()
    }
    assert {r.doc_id: r.exact_hits for r in rows if r.exact_hits > 0} == exact

    # Mergeability: bit-OR of two halves' bitmaps == the whole's bitmap,
    # PROVIDED both halves share the same (m_bits) geometry — built via
    # the production bloom_bitmap, not an inline copy.
    docs = load_table(spark, sf_dir, "documents").limit(60)
    grams = docs.select(
        SF.explode(
            SF.filter(
                SF.split(SF.lower("text"), r"[^\p{L}\p{N}]+"),
                lambda x: SF.length(x) > 0,
            )
        ).alias("gram")
    ).distinct()
    params = grams.agg((SF.count(SF.lit(1)) * 10).alias("m_bits"))
    full = {r.word_idx: r.word for r in bloom_bitmap(grams, params).collect()}
    lo = bloom_bitmap(grams.where(SF.length("gram") % 2 == 0), params).collect()
    hi = bloom_bitmap(grams.where(SF.length("gram") % 2 == 1), params).collect()
    merged = {}
    for r in [*lo, *hi]:
        merged[r.word_idx] = merged.get(r.word_idx, 0) | r.word
    assert merged == full


def test_weighted_sample_biases_toward_heavy_orders(spark, sf_dir):
    from mapreducer_spark.operators.reshape import _WRS_N, weighted_sample_orders
    from mapreducer_spark.sources import load_table

    sample = weighted_sample_orders(spark, sf_dir)
    rows = sample.collect()
    assert len(rows) == _WRS_N
    samp_avg = sum(float(r.o_totalprice) for r in rows) / len(rows)
    corpus_avg = (
        load_table(spark, sf_dir, "orders")
        .agg(F.avg("o_totalprice"))
        .collect()[0][0]
    )
    # Price-weighted sampling must pull the sample mean above the corpus
    # mean (deterministic hash draw -> stable assertion).
    assert samp_avg > float(corpus_avg)


def test_quality_classifier_score_matches_logit_sign(spark, sf_dir):
    from mapreducer_spark.operators.curation import quality_classifier_linear

    rows = quality_classifier_linear(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.score <= 1.0
        assert r.keep == (r.logit > 0)
        # sigmoid midpoint consistency
        if r.logit > 0:
            assert r.score >= 0.5
        elif r.logit < 0:
            assert r.score <= 0.5


def test_bfs_recursive_reaches_neighbours(spark, sf_dir):
    from mapreducer_spark.operators.sqlfront import copurchase_bfs_recursive

    rows = copurchase_bfs_recursive(spark, sf_dir).collect()
    assert len(rows) == 3
    # Seeds are the highest-degree parts: they must see 1-hop neighbours,
    # and 2-hop counts exclude anything already seen at 1 hop.
    for r in rows:
        assert r.n_1hop > 0
        assert r.n_2hop >= 0


def _canonical_bpe(wc: dict, rounds: int):
    """Reference greedy BPE (Sennrich et al. 2016), pure Python: weighted
    pair counts over the word-frequency table, argmax merge with
    ties -> lexically smallest pair, greedy left-to-right non-overlapping
    re-segmentation.  Independent of the string-replace formulation under
    test — this is the canonical algorithm the Spark/DuckDB twins must
    reproduce (the two engines share the encoding trick, so only an
    outside implementation can catch a shared defect)."""
    segs = {w: [c for c in w] for w in wc}
    merges = []
    for _ in range(rounds):
        counts: dict = {}
        for w, cnt in wc.items():
            s = segs[w]
            for i in range(len(s) - 1):
                counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + cnt
        if not counts:
            break
        (a, b), _w = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, _w))
        for w, s in segs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            segs[w] = out
    return merges, segs


def test_bpe_matches_canonical_greedy(spark, sf_dir):
    """bpe_encode_words must agree exactly with canonical greedy BPE on
    every vocabulary word — merges AND final segmentations.  Guards the
    2-space-delimiter replace trick against the single-space failure mode
    (' a a a a ' -> ' aa a a ': replace consumes the shared space and
    skips every second merge in repeated-symbol runs)."""
    from mapreducer_spark.operators.textstats import (
        _BPE_ROUNDS,
        bpe_encode_words,
        bpe_merge_rounds,
    )

    enc_rows = bpe_encode_words(spark, sf_dir).collect()
    wc = {r.word: r.cnt for r in enc_rows}
    merges, segs = _canonical_bpe(wc, _BPE_ROUNDS)

    got_merges = [
        (r.a, r.b, r.pair_w)
        for r in bpe_merge_rounds(spark, sf_dir).orderBy("rank").collect()
    ]
    assert got_merges == merges

    mismatches = [
        (r.word, r.encoded, " ".join(segs[r.word]))
        for r in enc_rows
        if r.encoded != " ".join(segs[r.word]) or r.n_symbols != len(segs[r.word])
    ]
    assert not mismatches, f"BPE segmentation drift: {mismatches[:5]}"


def test_bpe_replace_trick_handles_repeated_runs(spark):
    """The exact ADVICE counterexamples: runs of a repeated symbol.  The
    2-space-delimited replace must produce greedy BPE ('aaaa' -> 'aa aa',
    'aaaaa' -> 'aa aa a', 'abab' -> 'ab ab'), where the single-space form
    got 'aaaa' -> 'aa a a'."""
    cases = {
        "aaaa": "aa aa",
        "aaaaa": "aa aa a",
        "aaa": "aa a",
        "abab": "ab ab",  # merge (a, b) here
        "aabaa": "aa b aa",
    }
    df = spark.createDataFrame([(w,) for w in cases], ["word"])
    from pyspark.sql import functions as F

    seg = df.select(
        "word",
        F.concat(F.lit("  "), F.regexp_replace("word", "(.)", "$1  ")).alias(
            "seg"
        ),
    )
    for a, b in [("a", "a"), ("a", "b")]:
        seg = seg.select(
            "word",
            F.replace(
                F.col("seg"),
                F.lit(f" {a}  {b} "),
                F.lit(f" {a}{b} "),
            ).alias("seg"),
        )
    got = {
        r.word: " ".join(t for t in r.seg.split(" ") if t)
        for r in seg.collect()
    }
    assert got == cases


def test_ann_nprobe_sweep_monotone(spark, sf_dir):
    """Recall@10 must be non-decreasing in nprobe for every query
    (probing more clusters can only add candidates), and the widest
    setting must dominate the registered default."""
    from mapreducer_spark.operators.similarity import (
        _SWEEP_NPROBES,
        ann_ivf_nprobe_sweep,
    )

    rows = ann_ivf_nprobe_sweep(spark, sf_dir).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.q_id, {})[r.nprobe] = r.recall_at_10
    assert by_q
    for q, curve in by_q.items():
        assert set(curve) == set(_SWEEP_NPROBES)
        seq = [curve[n] for n in sorted(curve)]
        assert seq == sorted(seq), f"recall not monotone for q={q}: {seq}"


def test_simhash_hamming_pairs_find_planted_neardups(spark, sf_dir):
    """Banded SimHash blocking must recover the synthesized near-dup
    pairs (variant = last token dropped -> few fingerprint bits flip,
    Hamming well under the radius), with verified distances and without
    degenerating into all-pairs."""
    from mapreducer_spark.operators.dedup import (
        _HAMMING_MAX,
        simhash_hamming_pairs,
    )

    rows = simhash_hamming_pairs(spark, sf_dir).collect()
    found = {(r.id_a, r.id_b) for r in rows}
    expected = {(i, i + 3000000) for i in range(0, 500, 5)}
    recall = len(found & expected) / len(expected)
    assert recall >= 0.90, f"SimHash recall too low: {recall}"
    assert all(0 <= r.hamming <= _HAMMING_MAX for r in rows)
    # 600 docs -> C(600,2) = 179,700 possible pairs; banded blocking +
    # the Hamming radius must keep the survivor set a small fraction.
    assert len(rows) < 20_000, f"pair explosion: {len(rows)}"


def test_train_val_test_split_proportions_and_determinism(spark, sf_dir):
    """The hashed key split must land near 80/10/10, be exhaustive, and
    be reproducible run-to-run."""
    from mapreducer_spark.operators.curation import corpus_train_val_test_split
    from mapreducer_spark.sources import load_table

    rows = corpus_train_val_test_split(spark, sf_dir).collect()
    totals: dict = {}
    for r in rows:
        totals[r.split] = totals.get(r.split, 0) + r.n_docs
    n = load_table(spark, sf_dir, "documents").count()
    assert sum(totals.values()) == n  # exhaustive, no doc unassigned
    assert 0.7 <= totals["train"] / n <= 0.9
    assert 0.05 <= totals["val"] / n <= 0.15
    assert 0.05 <= totals["test"] / n <= 0.15
    again = {
        (r.source, r.split): r.n_docs
        for r in corpus_train_val_test_split(spark, sf_dir).collect()
    }
    assert again == {(r.source, r.split): r.n_docs for r in rows}


def test_split_leakage_pairs_are_real_neardups_across_splits(spark, sf_dir):
    """Every reported leakage pair must be a genuine near-dup pair AND
    genuinely cross splits; planted near-dup pairs whose variant hashed
    into a different split must all be reported."""
    from mapreducer_spark.operators.curation import (
        _split_expr,
        split_leakage_pairs,
    )
    from mapreducer_spark.operators.dedup import (
        docs_with_near_dups,
        neardup_jaccard_blocked,
    )

    leaks = split_leakage_pairs(spark, sf_dir).collect()
    assert leaks, "no leakage found — synthesized variants should leak"
    all_pairs = {
        (r.id_a, r.id_b)
        for r in neardup_jaccard_blocked(spark, sf_dir).collect()
    }
    splits = {
        r.doc_id: r.split
        for r in docs_with_near_dups(spark, sf_dir)
        .select("doc_id", _split_expr(F.col("doc_id")).alias("split"))
        .collect()
    }
    for r in leaks:
        assert (r.id_a, r.id_b) in all_pairs
        assert r.split_a != r.split_b
        assert splits[r.id_a] == r.split_a and splits[r.id_b] == r.split_b
    # completeness: every cross-split near-dup pair is reported
    want = {
        p for p in all_pairs if splits[p[0]] != splits[p[1]]
    }
    assert {(r.id_a, r.id_b) for r in leaks} == want


def test_corpus_after_dedup_invariants(spark, sf_dir):
    """Capstone consistency: kept + removed == total; every cluster
    keeps exactly its min member; the planted variants are the ones
    removed when they cluster with their original."""
    from mapreducer_spark.operators.clustering import (
        corpus_after_neardup_dedup,
        neardup_clusters,
    )

    row = corpus_after_neardup_dedup(spark, sf_dir).collect()[0]
    assert row.n_kept + row.n_removed == row.n_docs
    assert row.n_docs == 600  # 500 docs + 100 synthesized variants
    clusters = neardup_clusters(spark, sf_dir).collect()
    leaders = {r.comp for r in clusters}
    members = {r.v for r in clusters}
    assert row.n_removed == len(members) - len(leaders)
    assert row.n_clusters == len(leaders)


def test_curriculum_phases_degenerate_sigma_zero(spark, tmp_path):
    """ADVICE r7: a corpus where every doc has the SAME token count has
    sigma = 0; Spark's 0/0 double division yields NULL (everything fell
    to phase 3) while DuckDB's yields +/-inf (below-mean docs to phase
    0).  The guarded z-score sends the whole degenerate corpus to phase
    1 on BOTH engines — asserted through the same oracle gate as the
    main fixture."""
    import shutil

    from mapreducer_spark.registry import all_queries
    from tests.conftest import SF_DIR
    from tests.oracle import TABLES, assert_matches_oracle

    sf = tmp_path / "sf_degenerate"
    sf.mkdir()
    for t in TABLES:
        if t != "documents":
            shutil.copy(f"{SF_DIR}/{t}.parquet", sf / f"{t}.parquet")
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta", "en", "synth", 22) for i in range(40)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.parquet(str(tmp_path / "docs_out"))
    import glob

    part = glob.glob(str(tmp_path / "docs_out" / "part-*.parquet"))[0]
    shutil.copy(part, sf / "documents.parquet")

    q = all_queries()["curriculum_difficulty_phases"]
    assert_matches_oracle(spark, q, str(sf))
    rows = q.fn(spark, str(sf)).collect()
    assert len(rows) == 1 and rows[0]["phase"] == 1 and rows[0]["n_docs"] == 40


def test_substring_dedup_family_consistent(spark, sf_dir):
    """The three substring-dedup views agree: apply's kept_tokens ==
    n_tokens - doc_stats' dup_tokens for every doc, spans lie inside
    their doc's token range, and every span carries >= k tokens."""
    from mapreducer_spark.operators.dedup import (
        _SUBSTR_K,
        corpus_after_substring_dedup,
        substring_dedup_doc_stats,
        substring_dedup_spans,
    )

    stats = {
        r.doc_id: r for r in substring_dedup_doc_stats(spark, sf_dir).collect()
    }
    applied = {
        r.doc_id: r for r in corpus_after_substring_dedup(spark, sf_dir).collect()
    }
    assert set(stats) == set(applied)
    for doc_id, s in stats.items():
        a = applied[doc_id]
        assert a.n_tokens == s.n_tokens
        assert a.kept_tokens == s.n_tokens - s.dup_tokens, doc_id
        assert len(a.kept_text.split()) == a.kept_tokens

    spans = substring_dedup_spans(spark, sf_dir).collect()
    for sp in spans:
        assert sp.span_tokens >= _SUBSTR_K
        assert 1 <= sp.span_start <= sp.span_end
        assert sp.span_end <= stats[sp.doc_id].n_tokens
        assert sp.span_tokens == sp.span_end - sp.span_start + 1


def test_substring_spans_match_pure_python_reference(spark, tmp_path):
    """Randomized third-implementation parity for the substring-dedup
    family: on three seeded random corpora, the Spark shingle+islands
    pipeline must equal an independent pure-Python brute-force reference
    (dict of shingle counts -> duplicated positions -> interval merge).
    Catches shared-blind-spot bugs the DuckDB oracle could mirror (the
    oracle uses the same islands formulation; this reference does not)."""
    import glob
    import random
    import shutil

    from mapreducer_spark.operators.dedup import (
        _SUBSTR_K,
        substring_dedup_spans,
    )
    from tests.conftest import SF_DIR
    from tests.oracle import TABLES

    def py_spans(docs: dict[int, list[str]]) -> set[tuple[int, int, int, int]]:
        counts: dict[tuple[str, ...], int] = {}
        for toks in docs.values():
            for i in range(len(toks) - _SUBSTR_K + 1):
                g = tuple(toks[i : i + _SUBSTR_K])
                counts[g] = counts.get(g, 0) + 1
        out = set()
        for doc_id, toks in docs.items():
            dup_pos = [
                i + 1
                for i in range(len(toks) - _SUBSTR_K + 1)
                if counts[tuple(toks[i : i + _SUBSTR_K])] > 1
            ]
            run: list[int] = []
            for p in dup_pos:
                if run and p - run[-1] > _SUBSTR_K:
                    out.add(
                        (doc_id, run[0], run[-1] + _SUBSTR_K - 1,
                         run[-1] + _SUBSTR_K - run[0])
                    )
                    run = []
                run.append(p)
            if run:
                out.add(
                    (doc_id, run[0], run[-1] + _SUBSTR_K - 1,
                     run[-1] + _SUBSTR_K - run[0])
                )
        return out

    vocab = [f"w{i}" for i in range(12)]
    for seed in (7, 23, 99):
        rng = random.Random(seed)
        docs: dict[int, list[str]] = {}
        for d in range(30):
            docs[d] = [rng.choice(vocab) for _ in range(rng.randint(5, 60))]
        # Plant guaranteed repeats: copy a slice of one doc into another.
        for d in range(0, 30, 5):
            src = docs[(d + 3) % 30]
            if len(src) >= _SUBSTR_K + 2:
                cut = src[1 : 1 + _SUBSTR_K + rng.randint(0, 5)]
                docs[d] = docs[d][:3] + cut + docs[d][3:]

        sf = tmp_path / f"sf_rand{seed}"
        sf.mkdir()
        for t in TABLES:
            if t != "documents":
                shutil.copy(f"{SF_DIR}/{t}.parquet", sf / f"{t}.parquet")
        rows = [
            (d, " ".join(toks), "en", "synth", len(" ".join(toks)))
            for d, toks in docs.items()
        ]
        frame = spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        out = tmp_path / f"docs_out{seed}"
        frame.coalesce(1).write.parquet(str(out))
        (part,) = glob.glob(str(out / "part-*.parquet"))
        shutil.copy(part, sf / "documents.parquet")

        got = {
            (r.doc_id, r.span_start, r.span_end, r.span_tokens)
            for r in substring_dedup_spans(spark, str(sf)).collect()
        }
        assert got == py_spans(docs), f"seed {seed}"


def test_minhash_lsh_recall_floor(spark, sf_dir):
    """The LSH gauge must recover essentially all planted near-dups at
    this operating point (16 perms / 4 bands on last-token-dropped
    copies) and verification must not be mostly wasted work."""
    from mapreducer_spark.operators.dedup import minhash_lsh_recall

    r = minhash_lsh_recall(spark, sf_dir).collect()[0]
    assert r.planted_recall >= 0.95
    assert r.candidate_precision >= 0.5
    assert r.n_hits <= r.n_candidates


def test_sequence_packing_matches_pure_python_reference(spark, tmp_path):
    """Third-implementation parity for the two-phase prefix sum: on
    seeded random corpora (doc lengths 1..120 tokens), Spark's bucketed
    decomposition must equal a pure-Python naive packing (global sort by
    (md5-hash, doc_id), sequential cumsum) — independent of both the
    Spark formulation and the DuckDB window oracle."""
    import glob
    import hashlib
    import random
    import shutil

    from mapreducer_spark.operators.curation import (
        _PACK_CTX,
        sequence_packing_offsets,
    )
    from tests.conftest import SF_DIR
    from tests.oracle import TABLES

    def md5_int64(text: str) -> int:
        return int(hashlib.md5(text.encode()).hexdigest()[:15], 16)

    vocab = [f"tok{i}" for i in range(40)]
    for seed in (3, 71):
        rng = random.Random(seed)
        docs = {
            d: " ".join(
                rng.choice(vocab) for _ in range(rng.randint(1, 120))
            )
            for d in range(80)
        }
        expected = {}
        offset = 0
        for d, text in sorted(
            docs.items(), key=lambda kv: (md5_int64(kv[1]), kv[0])
        ):
            n = len(text.split())
            first, last = offset // _PACK_CTX, (offset + n - 1) // _PACK_CTX
            expected[d] = (n, offset, first, last, last - first)
            offset += n

        sf = tmp_path / f"sf_pack{seed}"
        sf.mkdir()
        for t in TABLES:
            if t != "documents":
                shutil.copy(f"{SF_DIR}/{t}.parquet", sf / f"{t}.parquet")
        frame = spark.createDataFrame(
            [(d, text, "en", "synth", len(text)) for d, text in docs.items()],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        out = tmp_path / f"pack_out{seed}"
        frame.coalesce(1).write.parquet(str(out))
        (part,) = glob.glob(str(out / "part-*.parquet"))
        shutil.copy(part, sf / "documents.parquet")

        got = {
            r.doc_id: (
                r.n_tokens,
                r.start_offset,
                r.first_block,
                r.last_block,
                r.n_splits,
            )
            for r in sequence_packing_offsets(spark, str(sf)).collect()
        }
        assert got == expected, f"seed {seed}"


def test_lm_scoring_matches_pure_python_reference(spark, tmp_path):
    """Third-implementation parity for the Stupid-Backoff LM ladder: on
    a seeded random corpus, doc_bigram_perplexity and
    doc_trigram_perplexity must equal a pure-Python reference LM built
    from collections.Counter — independent of both engines' SQL
    formulations.  Exercises every backoff branch (small vocab + short
    docs make hapax n-grams common)."""
    import glob
    import math
    import random
    import shutil
    from collections import Counter
    from decimal import Decimal

    from mapreducer_spark.operators.textstats import (
        _BACKOFF_ALPHA,
        _BIGRAM_MIN_COUNT,
        _TRIGRAM_MIN_COUNT,
        doc_bigram_perplexity,
        doc_trigram_perplexity,
    )
    from tests.conftest import SF_DIR
    from tests.oracle import TABLES

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(8)]
    docs = {
        d: [rng.choice(vocab) for _ in range(rng.randint(2, 40))]
        for d in range(60)
    }

    uni = Counter(t for toks in docs.values() for t in toks)
    n_total = sum(uni.values())
    big_all = Counter(
        (toks[i], toks[i + 1])
        for toks in docs.values()
        for i in range(len(toks) - 1)
    )
    big_model = {k: c for k, c in big_all.items() if c >= _BIGRAM_MIN_COUNT}
    tri_model = Counter(
        (toks[i], toks[i + 1], toks[i + 2])
        for toks in docs.values()
        for i in range(len(toks) - 2)
    )
    tri_model = {k: c for k, c in tri_model.items() if c >= _TRIGRAM_MIN_COUNT}

    def round6(x):
        # Mirror the engines: round half away from zero at 6 dp.
        return float(
            Decimal(repr(x)).quantize(Decimal("0.000001"), rounding="ROUND_HALF_UP")
        )

    def avg4(logps):
        s = sum(Decimal(repr(lp)).quantize(Decimal("0.000001")) for lp in logps)
        return float(
            (s / len(logps)).quantize(Decimal("0.0001"), rounding="ROUND_HALF_UP")
        )

    def py_bigram(toks):
        logps = []
        for i in range(len(toks) - 1):
            v, w_ = toks[i], toks[i + 1]
            if (v, w_) in big_model:
                s = big_model[(v, w_)] / uni[v]
            else:
                s = _BACKOFF_ALPHA * (uni[w_] / n_total)
            logps.append(round6(math.log2(s)))
        return avg4(logps)

    def py_trigram(toks):
        logps = []
        for i in range(len(toks) - 2):
            u, v, w_ = toks[i], toks[i + 1], toks[i + 2]
            if (u, v, w_) in tri_model:
                s = tri_model[(u, v, w_)] / big_all[(u, v)]
            elif (v, w_) in big_model:
                s = _BACKOFF_ALPHA * (big_model[(v, w_)] / uni[v])
            else:
                s = _BACKOFF_ALPHA * _BACKOFF_ALPHA * (uni[w_] / n_total)
            logps.append(round6(math.log2(s)))
        return avg4(logps)

    sf = tmp_path / "sf_lm"
    sf.mkdir()
    for t in TABLES:
        if t != "documents":
            shutil.copy(f"{SF_DIR}/{t}.parquet", sf / f"{t}.parquet")
    frame = spark.createDataFrame(
        [
            (d, " ".join(toks), "en", "synth", len(" ".join(toks)))
            for d, toks in docs.items()
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = tmp_path / "lm_out"
    frame.coalesce(1).write.parquet(str(out))
    (part,) = glob.glob(str(out / "part-*.parquet"))
    shutil.copy(part, sf / "documents.parquet")

    got_b = {
        r.doc_id: r.avg_log2_s
        for r in doc_bigram_perplexity(spark, str(sf)).collect()
    }
    for d, toks in docs.items():
        if len(toks) >= 2:
            assert got_b[d] == py_bigram(toks), f"bigram doc {d}"

    got_t = {
        r.doc_id: r.avg_log2_s
        for r in doc_trigram_perplexity(spark, str(sf)).collect()
    }
    for d, toks in docs.items():
        if len(toks) >= 3:
            assert got_t[d] == py_trigram(toks), f"trigram doc {d}"


def test_intra_doc_spans_match_pure_python_reference(spark, tmp_path):
    """Brute-force parity for the intra-document repetition detector on
    a seeded corpus with planted loops."""
    import glob
    import random
    import shutil

    from mapreducer_spark.operators.dedup import (
        _SELF_K,
        intra_doc_repeated_spans,
    )
    from tests.conftest import SF_DIR
    from tests.oracle import TABLES

    rng = random.Random(41)
    vocab = [f"v{i}" for i in range(30)]
    docs = {}
    for d in range(40):
        toks = [rng.choice(vocab) for _ in range(rng.randint(5, 50))]
        if d % 4 == 0 and len(toks) >= _SELF_K:
            # Plant a loop: repeat the doc's first phrase twice more.
            phrase = toks[: _SELF_K + rng.randint(0, 3)]
            toks = toks + phrase + phrase
        docs[d] = toks

    def py_stats(toks):
        counts = {}
        for i in range(len(toks) - _SELF_K + 1):
            g = tuple(toks[i : i + _SELF_K])
            counts[g] = counts.get(g, 0) + 1
        dup_pos = [
            i + 1
            for i in range(len(toks) - _SELF_K + 1)
            if counts[tuple(toks[i : i + _SELF_K])] > 1
        ]
        spans = []
        run = []
        for p in dup_pos:
            if run and p - run[-1] > _SELF_K:
                spans.append((run[0], run[-1] + _SELF_K - 1))
                run = []
            run.append(p)
        if run:
            spans.append((run[0], run[-1] + _SELF_K - 1))
        rep = sum(e - s + 1 for s, e in spans)
        return len(spans), rep

    sf = tmp_path / "sf_loops"
    sf.mkdir()
    for t in TABLES:
        if t != "documents":
            shutil.copy(f"{SF_DIR}/{t}.parquet", sf / f"{t}.parquet")
    frame = spark.createDataFrame(
        [
            (d, " ".join(toks), "en", "synth", len(" ".join(toks)))
            for d, toks in docs.items()
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = tmp_path / "loops_out"
    frame.coalesce(1).write.parquet(str(out))
    (part,) = glob.glob(str(out / "part-*.parquet"))
    shutil.copy(part, sf / "documents.parquet")

    # The registered query adds its own synthesized loop copies at
    # +4000000; restrict the comparison to the base docs.
    got = {
        r.doc_id: (r.n_self_spans, r.self_rep_tokens)
        for r in intra_doc_repeated_spans(spark, str(sf)).collect()
        if r.doc_id < 4000000
    }
    expected = {d: py_stats(toks) for d, toks in docs.items()}
    assert got == expected
    assert any(v[0] > 0 for v in expected.values()), "plants must fire"


def test_label_centroid_auc_matches_pure_python_reference(spark, tmp_path):
    """Randomized third-implementation parity for the rank-sum AUC: on a
    seeded clustered-embedding fixture, label_centroid_auc must equal an
    independent pure-Python reference (explicit sorted tie-averaged
    ranks).  The reference mimics the engine's numeric contract exactly
    — sequential-fold cosine (same IEEE op order), shortest-repr
    HALF_UP rounding via Decimal(repr(x)) — so the assert is EXACT
    equality, not a tolerance; it shares no rank-sum algebra with the
    Spark/DuckDB grouped-prefix-sum formulation."""
    import math
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from mapreducer_spark.operators.similarity import label_centroid_auc

    def r6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP))

    rng = random.Random(41)
    dim, n_labels, n = 8, 5, 200
    protos = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_labels)]
    rows = []
    for vid in range(n):
        lb = vid % n_labels
        vec = [protos[lb][d] + rng.gauss(0, 0.8) for d in range(dim)]
        # store as float32 like the real fixture
        rows.append((vid, [float(f"{v:.6g}") for v in vec], lb))
    sf = tmp_path / "sf_auc"
    sf.mkdir()
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(sf / "embeddings.parquet"))

    got = {
        r.label: (r.n_pos, r.n_neg, r.auc)
        for r in label_centroid_auc(spark, str(sf)).collect()
    }

    # Pure-Python reference.  float32 storage means the collected values
    # must round-trip through float32 exactly as Spark reads them.
    import struct

    def f32(x: float) -> float:
        return struct.unpack("f", struct.pack("f", x))[0]

    vecs = {vid: [f32(v) for v in emb] for vid, emb, _ in rows}
    labels = {vid: lb for vid, _, lb in rows}

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def fold_norm(a):
        acc = 0.0
        for x in a:
            acc = acc + x * x
        return math.sqrt(acc)

    for lb in range(n_labels):
        members = [vecs[v] for v in vecs if labels[v] == lb]
        cent = [
            r6(math.fsum(m[d] for m in members) / len(members))
            for d in range(dim)
        ]
        scores = []
        for vid, vec in vecs.items():
            s = r6(fold_dot(vec, cent) / (fold_norm(vec) * fold_norm(cent)))
            scores.append((s, labels[vid] == lb))
        scores.sort(key=lambda t: t[0])
        # tie-averaged ranks, explicitly
        auc_sum = 0.0
        i = 0
        while i < len(scores):
            j = i
            while j < len(scores) and scores[j][0] == scores[i][0]:
                j += 1
            avg_rank = (i + 1 + j) / 2.0  # mean of ranks i+1..j
            auc_sum += avg_rank * sum(1 for k in range(i, j) if scores[k][1])
            i = j
        n_pos = sum(1 for _, p in scores if p)
        n_neg = len(scores) - n_pos
        auc = r6((auc_sum - n_pos * (n_pos + 1) / 2.0) / (n_pos * n_neg))
        assert got[lb][0] == n_pos and got[lb][1] == n_neg
        assert got[lb][2] == auc, (lb, got[lb][2], auc)


def test_retrieval_ndcg_matches_pure_python_reference(spark, tmp_path):
    """Third-implementation parity for nDCG@k: explicit per-query sorted
    retrieval lists and position-by-position discount sums in pure
    Python, against the op's window + decimal-fold formulation.  Log
    discounts may differ from the JVM at 1 ulp, so the assert carries a
    1e-6 tolerance (counts are exact)."""
    import math
    import random
    import struct

    from mapreducer_spark.operators.similarity import (
        _N_QUERIES,
        _NDCG_K1,
        _NDCG_K2,
        retrieval_ndcg,
    )

    rng = random.Random(43)
    dim, n_labels, n = 8, 4, 160
    protos = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_labels)]
    rows = []
    for vid in range(n):
        lb = vid % n_labels
        vec = [protos[lb][d] + rng.gauss(0, 0.9) for d in range(dim)]
        rows.append((vid, [float(f"{v:.6g}") for v in vec], lb))
    sf = tmp_path / "sf_ndcg"
    sf.mkdir()
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(str(sf / "embeddings.parquet"))

    got = {
        r.q_id: (r.n_rel, r[f"ndcg_at_{_NDCG_K1}"], r[f"ndcg_at_{_NDCG_K2}"])
        for r in retrieval_ndcg(spark, str(sf)).collect()
    }

    def f32(x: float) -> float:
        return struct.unpack("f", struct.pack("f", x))[0]

    vecs = {vid: [f32(v) for v in emb] for vid, emb, _ in rows}
    labels = {vid: lb for vid, _, lb in rows}

    def cos(a, b):
        d = n1 = n2 = 0.0
        for x, y in zip(a, b):
            d += x * y
            n1 += x * x
            n2 += y * y
        return d / math.sqrt(n1 * n2)

    for q in range(_N_QUERIES):
        ranked = sorted(
            ((round(cos(vecs[q], vecs[c]), 6), c) for c in vecs if c != q),
            key=lambda t: (-t[0], t[1]),
        )
        rel_flags = [labels[c] == labels[q] for _, c in ranked]
        n_rel = sum(rel_flags)

        def dcg(k):
            return math.fsum(
                1.0 / math.log2(i + 2)
                for i, f in enumerate(rel_flags[:k]) if f
            )

        def idcg(k):
            return math.fsum(
                1.0 / math.log2(i + 2) for i in range(min(n_rel, k))
            )

        assert got[q][0] == n_rel
        assert abs(got[q][1] - dcg(_NDCG_K1) / idcg(_NDCG_K1)) < 1e-6
        assert abs(got[q][2] - dcg(_NDCG_K2) / idcg(_NDCG_K2)) < 1e-6


def test_session_stat_ops_invariants(spark, sf_dir):
    """Mathematical invariants of the round-8 statistical operators on
    the live fixture — cheap cross-checks orthogonal to the oracle
    (the oracle proves engine agreement; these prove the STATISTIC is
    the one the docstring claims):

    - Markov transition rows sum to 1 per from_type, and the marginal
      column is a probability distribution.
    - Gini lies in [0, 1) and total_spend is positive.
    - AUC lies in [0, 1]; n_pos + n_neg equals the corpus size.
    - nDCG lies in [0, 1] (the ideal ordering bounds any ordering).
    - Benford shares sum to 1 on both the observed and expected side
      and every chi2 term is non-negative.
    - CUSUM max deviation is non-negative and the change day lies
      inside the series.
    - CUPED: the adjusted means preserve the POOLED mean (theta shifts
      arms against their covariate imbalance, it cannot move the
      weighted total), and var_reduction lies in [0, 1].
    """
    from mapreducer_spark.operators.events_time import (
        event_markov_transitions,
        event_value_changepoint,
    )
    from mapreducer_spark.operators.profiling import (
        benford_first_digit,
        cuped_experiment_analysis,
        customer_spend_gini,
    )
    from mapreducer_spark.operators.similarity import (
        label_centroid_auc,
        retrieval_ndcg,
    )

    mk = event_markov_transitions(spark, sf_dir).collect()
    by_from: dict[str, float] = {}
    marg: dict[str, float] = {}
    for r in mk:
        by_from[r.from_type] = by_from.get(r.from_type, 0.0) + r.p_transition
        marg[r.to_type] = r.p_to_marginal
    for ft, s in by_from.items():
        assert abs(s - 1.0) < 1e-4, (ft, s)
    assert abs(sum(marg.values()) - 1.0) < 1e-4

    for r in customer_spend_gini(spark, sf_dir).collect():
        assert 0.0 <= r.gini < 1.0 and r.total_spend > 0

    em_n = None
    for r in label_centroid_auc(spark, sf_dir).collect():
        assert 0.0 <= r.auc <= 1.0
        if em_n is None:
            em_n = r.n_pos + r.n_neg
        assert r.n_pos + r.n_neg == em_n

    for r in retrieval_ndcg(spark, sf_dir).collect():
        assert 0.0 <= r.ndcg_at_10 <= 1.0 and 0.0 <= r.ndcg_at_50 <= 1.0

    bf = benford_first_digit(spark, sf_dir).collect()
    assert abs(sum(r.obs_share for r in bf) - 1.0) < 1e-4
    assert abs(sum(r.benford_share for r in bf) - 1.0) < 2e-3  # 9 digits only
    assert all(r.chi2_term >= 0 for r in bf)

    for r in event_value_changepoint(spark, sf_dir).collect():
        assert r.max_abs_cusum >= 0
        assert r.mean_before > 0 and r.n_days >= 1

    cu = cuped_experiment_analysis(spark, sf_dir).collect()
    assert len(cu) == 2
    n_tot = sum(r.n_users for r in cu)
    pooled_raw = sum(r.mean_post * r.n_users for r in cu) / n_tot
    pooled_adj = sum(r.cuped_mean * r.n_users for r in cu) / n_tot
    assert abs(pooled_raw - pooled_adj) < 1e-3
    assert 0.0 <= cu[0].var_reduction <= 1.0
