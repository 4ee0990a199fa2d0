"""Property/behavior tests for the LLM-pipeline operators beyond the
oracle diff: LSH recall vs exact pairs, approx-distinct error bounds,
multimodal decode determinism."""

from __future__ import annotations

import pytest

from geoparquet_python_spark import registry

registry.load_all()


def test_minhash_lsh_recall(spark, sf_dir):
    """Every exact Jaccard-pair the banding *should* find (per its own
    probability model at j≥0.6 recall ≈ 0.999) must be found; overall
    recall vs the exact inverted-index result must be high."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in registry.QUERIES["q_ngram_jaccard_pairs"](spark, sf_dir).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in registry.QUERIES["q_minhash_lsh_neardup"](spark, sf_dir).collect()
    }
    assert lsh <= set(exact), "LSH must never invent pairs (refine is exact)"
    strong = {p for p, j in exact.items() if j >= 0.6}
    assert strong <= lsh, f"missed high-similarity pairs: {strong - lsh}"
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.7, f"LSH recall too low: {recall:.2f}"


def test_jl_distortion_within_band(spark, sf_dir):
    """JL sanity band: the unbiased per-pair distortion ratio (ppm,
    expected 1e6) must stay inside a wide band and average near 1 —
    a broken sign matrix, dropped dimension, or scaling slip moves
    every ratio far outside instantly. Band chosen at ~±4 sigma for
    D=16 (sigma ~= sqrt(2/D) ~ 0.35) so the test never flakes on the
    fixed deterministic matrix."""
    rows = registry.QUERIES["q_jl_distortion_audit"](spark, sf_dir).collect()
    assert len(rows) == 45
    ratios = [r["ratio_ppm"] for r in rows]
    assert all(50_000 <= x <= 4_000_000 for x in ratios), sorted(ratios)[:3]
    mean = sum(ratios) / len(ratios)
    assert 500_000 <= mean <= 1_500_000, mean


def test_pca_direction_beats_random_direction(spark, sf_dir):
    """The power-iteration output must actually point somewhere: the
    Rayleigh quotient (variance captured) of the returned direction
    must exceed the all-ones start vector's — if iteration did nothing
    (e.g. a rescale bug zeroed v), this fails."""
    import numpy as np

    from geoparquet_python_spark.io import load_table
    from geoparquet_python_spark.operators.randproj import _SCALE

    emb = load_table(spark, sf_dir, "embeddings").select("embedding").collect()
    X = np.array([r["embedding"] for r in emb], dtype=np.float64) * _SCALE
    v_rows = registry.QUERIES["q_pca_power_iteration"](spark, sf_dir).collect()
    v = np.array([r["v_fixed"] for r in v_rows], dtype=np.float64)
    assert np.linalg.norm(v) > 0
    v = v / np.linalg.norm(v)
    ones = np.ones_like(v) / np.sqrt(len(v))

    def rayleigh(d):
        return float(((X @ d) ** 2).sum())

    assert rayleigh(v) > rayleigh(ones), "power iteration did not improve"


def test_bloom_filter_no_false_negatives_and_fp_ceiling(spark, sf_dir):
    """Structural Bloom guarantees, asserted not just reported: every
    exact member passes the filter (no false negatives — pass_rows >=
    exact_rows AND false_pos = pass - exact exactly), and the measured
    FP rate stays under 10x the design point (m auto-sizes to 16-32
    bits/key at k=3 => FP <= ~0.6%; ceiling 10% guards the hash math
    without flaking — and, since m now scales with the qualifying key
    count, the ceiling holds at EVERY scale factor, unlike the r7
    fixed-8192 filter that saturated at sf0.1)."""
    row = registry.QUERIES["q_bloom_filter_semi_join"](spark, sf_dir).collect()[0]
    assert row["n_pass_rows"] >= row["n_exact_rows"]
    assert (
        row["n_false_pos_rows"] == row["n_pass_rows"] - row["n_exact_rows"]
    ), "false negatives present: some exact member failed the filter"
    assert row["fp_ppm"] <= 100_000, f"FP rate {row['fp_ppm']} ppm > 10%"


def test_bloom_filter_bits_per_key_in_band_across_scales(spark):
    """The auto-sizing contract (ADVICE r7): m/n stays in [16, 32] for
    BOTH Bloom filters (batch semi-join over qualifying part keys,
    streaming gate over the frozen document half) at all three testdata
    scales — the docstring's bits/key promise is asserted, not just
    claimed."""
    from pyspark.sql import functions as F

    from geoparquet_python_spark.io import load_table
    from geoparquet_python_spark.operators import bloomjoin as bj

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        sd = f"/root/testdata/{sf}"
        part = load_table(spark, sd, "part")
        n = part.where(F.col("p_size") >= bj._P_SIZE_MIN).count()
        m = bj._m_bits(n)
        assert 16 <= m / n <= 32, f"batch filter {sf}: {m}/{n}"
        nf = (
            load_table(spark, sd, "documents")
            .where(F.expr("doc_id % 2 = 0"))
            .count()
        )
        mf = bj._m_bits(nf)
        assert 16 <= mf / nf <= 32, f"stream gate {sf}: {mf}/{nf}"


def test_bloom_m_bits_guards_km_seed_range():
    """ADVICE r10: past m = 2^30 the 30-bit Kirsch–Mitzenmacher seed
    (h % 2^30) can never address the filter's upper bits — the filter
    would silently degenerate. _m_bits must fail LOUDLY instead."""
    import pytest as _pytest

    from geoparquet_python_spark.operators import bloomjoin as bj

    assert bj._m_bits((1 << 30) // bj._BITS_PER_KEY) == 1 << 30  # at cap: ok
    with _pytest.raises(ValueError, match="KM seed"):
        bj._m_bits((1 << 30) // bj._BITS_PER_KEY + 1)


def test_capped_bucket_pairs_identical_pair_set(spark):
    """The sub-bucket occupancy cap (round-6 ADVICE: hot LSH bucket =
    one unboundedly large aggregation row) must not change WHAT pairs
    come out — only the worst-case row memory. A 7-member bucket at
    cap=3 (within + cross sub-bucket paths both exercised, 3 groups)
    must emit exactly the C(7,2)=21 (lo<hi) pairs an uncapped run
    emits, each exactly once, payload intact."""
    from pyspark.sql import functions as F

    from geoparquet_python_spark.operators.similarity import (
        _capped_bucket_pairs,
    )

    rows = [(0, i, [float(i), 1.0], i * 10) for i in range(7)] + [
        (1, 100, [9.0, 9.0], 1000),
        (1, 101, [8.0, 8.0], 1001),
    ]
    base = spark.createDataFrame(
        rows, "bkt bigint, vec_id bigint, embedding array<double>, n2 bigint"
    )
    narrow = base.select("vec_id", "bkt")
    payload = base.select(
        "vec_id", F.struct("vec_id", "embedding", "n2").alias("m")
    )

    def pair_set(cap):
        out = _capped_bucket_pairs(narrow, payload, ["bkt"], cap=cap).select(
            "bkt", "p.vec_a", "p.vec_b", "p.a_n2", "p.b_n2"
        )
        got = [tuple(r) for r in out.collect()]
        assert len(got) == len(set(got)), "duplicate pair emitted"
        return set(got)

    capped, uncapped = pair_set(3), pair_set(100)
    assert capped == uncapped
    assert len(capped) == 21 + 1
    assert all(a < b for (_, a, b, _, _) in capped)
    # payload rode along unswapped (n2 = vec_id * 10 in bucket 0)
    assert all(
        an2 == a * 10 and bn2 == b * 10
        for (bkt, a, b, an2, bn2) in capped
        if bkt == 0
    )


def test_bpe_no_pair_round_is_noop(spark):
    """A merge round that finds ZERO adjacent pairs (every doc down to
    one symbol) must be a no-op that emits an explicit zero-merge
    stats row — not empty the corpus (round-6 ADVICE: the old
    crossJoin against an empty top-pair frame dropped every row, and
    the oracle shared the degeneracy so the gate couldn't see it)."""
    from geoparquet_python_spark.operators.bpe import _merge_round

    seq = spark.createDataFrame(
        [(1, 1, "a"), (2, 1, "b"), (3, 1, "c")],
        "doc_id bigint, p bigint, w string",
    )
    new_seq, stats = _merge_round(seq, 0)
    s = stats.collect()[0]
    assert s["n_pair"] == 0
    assert s["n_merged"] == 0
    assert s["merged_l"] == "" and s["merged_r"] == ""
    got = {(r["doc_id"], r["p"], r["w"]) for r in new_seq.collect()}
    want = {(1, 1, "a"), (2, 1, "b"), (3, 1, "c")}
    assert got == want, "no-pair round must leave the corpus unchanged"


def test_ivfpq_recall_floor(spark, sf_dir):
    """Hard recall floor for the lossy ANN family (VERDICT r6 item 7):
    IVFADC recall@3 vs exact brute cosine must stay >= 0.7 at sf0.01.
    The audit query is registered (q_ivfpq_recall_audit) but a
    registered measurement alone would let a future NPROBE/SHORTLIST
    'speedup' silently trade recall away — this assertion makes that a
    red test instead."""
    row = registry.QUERIES["q_ivfpq_recall_audit"](spark, sf_dir).collect()[0]
    recall = row["recall_micro"] / 1_000_000
    assert row["n_expected"] > 0
    assert recall >= 0.7, f"IVFADC recall@3 dropped to {recall:.3f} (< 0.7)"


def test_ivf_recall_floor(spark, sf_dir):
    """Same floor for the uncompressed trained-cell IVF search: probe
    pruning is its only loss source, so it must do at least as well as
    the PQ-compressed path's floor."""
    approx = {
        (r["qid"], r["cid"])
        for r in registry.QUERIES["q_ann_topk_ivf"](spark, sf_dir).collect()
    }
    exact = {
        (r["qid"], r["cid"])
        for r in registry.QUERIES["q_cosine_topk_brute"](spark, sf_dir)
        .where("rank <= 3")
        .collect()
    }
    assert exact, "brute baseline returned no rows"
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.7, f"IVF recall@3 dropped to {recall:.3f} (< 0.7)"


def test_approx_count_distinct_error(spark, sf_dir):
    """Raw HLL++ estimates stay within 5% of exact (the registered
    query emits only the exact counts + 3·rsd certification booleans —
    see q_approx_distinct_parts — so the raw-estimate bound is checked
    here via the shared builder)."""
    from geoparquet_python_spark.operators.aggregation import (
        _approx_and_exact_distinct,
    )

    rows = _approx_and_exact_distinct(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert abs(r.approx_parts - r.exact_parts) / r.exact_parts < 0.05
        assert abs(r.approx_orders - r.exact_orders) / r.exact_orders < 0.05
    certified = registry.QUERIES["q_approx_distinct_parts"](
        spark, sf_dir
    ).collect()
    assert certified
    for r in certified:
        assert r.parts_within_3rsd and r.orders_within_3rsd


def test_multimodal_decode_deterministic(spark, sf_dir):
    """The PPM decoder output is consistent with a from-scratch local
    recomputation of the synthesized image (header dims + md5 pixels)."""
    import hashlib

    rows = (
        registry.QUERIES["q_multimodal_decode_features"](spark, sf_dir)
        .where("doc_id < 5")
        .collect()
    )
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where("doc_id < 5")
        .collect()
    }
    assert len(rows) == 5
    for r in rows:
        text = docs[r.doc_id]
        pixels = (
            hashlib.md5(text.encode()).digest()
            + hashlib.md5((text + "x").encode()).digest()
        )
        w, h = r.doc_id % 3 + 2, r.doc_id % 2 + 1
        px = pixels[: w * h * 3]
        assert (r.width, r.height, r.n_pixels) == (w, h, w * h)
        assert r.sum_bytes == sum(px)
        assert r.mean_r == sum(px[0::3]) / (w * h)
        assert r.mean_g == sum(px[1::3]) / (w * h)
        assert r.mean_b == sum(px[2::3]) / (w * h)
        assert r.mean_byte == sum(px) / (w * h * 3)


def test_decode_ppm_parses_and_rejects():
    """_decode_ppm is a real parser: round-trips a hand-built P6 image
    and rejects malformed payloads."""
    import numpy as np
    import pytest as _pytest

    from geoparquet_python_spark.operators.multimodal import _decode_ppm

    body = bytes(range(2 * 3 * 3))
    w, h, px = _decode_ppm(b"P6\n3 2\n255\n" + body)
    assert (w, h) == (3, 2)
    assert px.shape == (2, 3, 3)
    assert bytes(px.reshape(-1)) == body
    assert int(np.asarray(px[1, 2, 2])) == body[-1]
    with _pytest.raises(ValueError):
        _decode_ppm(b"P5\n3 2\n255\n" + body)
    with _pytest.raises(ValueError):
        _decode_ppm(b"P6\n3 2\n255\n" + body[:-1])
    with _pytest.raises(ValueError):
        _decode_ppm(b"P6\n3 2\n65535\n" + body)


def test_simhash_near_pairs_capture_planted_dups(spark, sf_dir):
    """Docs that are trigram-near-duplicates have near-identical word
    sets, so their SimHashes must collide within the Hamming budget."""
    exact = registry.QUERIES["q_ngram_jaccard_pairs"](spark, sf_dir).collect()
    strong = {(r.doc_a, r.doc_b) for r in exact if r.jaccard >= 0.8}
    sim = {
        (r.doc_a, r.doc_b)
        for r in registry.QUERIES["q_simhash_near_pairs"](spark, sf_dir).collect()
    }
    missed = strong - sim
    assert not missed, f"SimHash missed near-identical pairs: {missed}"


# --------------------------------------------------------------------------
# Round-2 hardening: broadcast-narrow guard, LSH caps, CC convergence
# --------------------------------------------------------------------------


def _write_planted_docs(tmp_path, texts):
    """Write a minimal documents.parquet with the given texts; returns
    the sf_dir the dedup operators can read."""
    import pandas as pd

    d = str(tmp_path)
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(texts)),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["planted"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    )
    pdf.to_parquet(f"{d}/documents.parquet")
    return d


def test_broadcast_narrow_rejects_payload_relations(spark):
    """The structural guard behind every explicit broadcast hint: id
    lists pass, array/struct-carrying relations raise (round-1 VERDICT
    'What's wrong' #3 — a broadcast of shingle arrays OOMs at scale)."""
    import pytest
    from pyspark.sql import functions as F

    from geoparquet_python_spark.functions.exact import broadcast_narrow

    ids = spark.range(10).select("id", (F.col("id") * 2).alias("id2"))
    assert broadcast_narrow(ids) is not None  # narrow: hint applies

    wide = spark.range(10).select("id", F.array(F.col("id")).alias("payload"))
    with pytest.raises(ValueError, match="non-atomic column 'payload'"):
        broadcast_narrow(wide)


def test_stop_shingle_cap_keeps_planted_neardups(spark, tmp_path):
    """Plant a boilerplate shingle shared by EVERY doc (the quadratic
    hot bucket) plus one true near-dup pair. The capped inverted index
    must (a) still emit the near-dup pair with its exact uncapped
    Jaccard, (b) generate far fewer candidate comparisons."""
    from geoparquet_python_spark.operators.dedup import _exact_jaccard_pairs

    boiler = "terms of service apply"
    # 40 unrelated docs all starting with the boilerplate...
    texts = [f"{boiler} unrelated body {i} alpha{i} beta{i} gamma{i} delta{i}" for i in range(40)]
    # ...plus a true near-dup pair sharing most non-boilerplate shingles.
    texts.append(f"{boiler} the quick brown fox jumps over the lazy dog tonight")
    texts.append(f"{boiler} the quick brown fox jumps over the lazy dog today")
    sf = _write_planted_docs(tmp_path, texts)

    uncapped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _exact_jaccard_pairs(spark, sf).collect()
    }
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _exact_jaccard_pairs(spark, sf, stop_shingle_df=10).collect()
    }
    assert (40, 41) in uncapped and (40, 41) in capped
    # exact score preserved under capping: i_exact = i_kept + shared
    # stop shingles reconstructs the uncapped integer count, so the
    # division is bit-identical (the pair shares boilerplate AND
    # unique shingles — both terms exercised)
    assert abs(capped[(40, 41)] - uncapped[(40, 41)]) < 1e-15
    # capping must not invent pairs
    assert set(capped) <= set(uncapped)
    # the fast/guarded probe (round 11): the planted boilerplate is a
    # hot shingle at cap 10 (guarded plan above), but not at cap 64 —
    # there the capped call provably takes the lean uncapped plan
    from pyspark.sql import functions as F

    from geoparquet_python_spark.functions.text import tokens, shingles
    from geoparquet_python_spark.io import load_table
    from geoparquet_python_spark.operators.dedup import _has_hot_shingles

    sh = (
        load_table(spark, sf, "documents")
        .select("doc_id", tokens("text").alias("toks"))
        .select("doc_id", F.explode(shingles("toks", k=3)).alias("s"))
    )
    assert _has_hot_shingles(spark, sh, sf, 10) is True
    assert _has_hot_shingles(spark, sh, sf, 64) is False


def test_minhash_bucket_cap_keeps_planted_neardups(spark, tmp_path):
    """A mega band-bucket (docs identical in one band via shared
    boilerplate) is dropped by bucket_cap, but true near-dups agree on
    many of the 16 bands and survive."""
    from geoparquet_python_spark.operators.dedup import (
        _exact_jaccard_pairs,
        _minhash_lsh_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again tonight"
    texts = [f"distinct document number {i} with words like x{i} y{i} z{i}" for i in range(30)]
    texts.append(base + " first")
    texts.append(base + " second")
    sf = _write_planted_docs(tmp_path, texts)

    capped = {
        (r.doc_a, r.doc_b)
        for r in _minhash_lsh_pairs(spark, sf, bucket_cap=5).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in _exact_jaccard_pairs(spark, sf).collect()
    }
    assert (30, 31) in capped
    # refine stays exact: capped LSH never invents pairs
    assert capped <= set(exact)


def test_neardup_clusters_labels_deep_chain(spark, tmp_path):
    """A deep near-dup chain converges: every doc of a 25-doc chain of
    diameter 24 labels to the chain's min doc_id."""
    from geoparquet_python_spark import registry

    # doc i = block_i || block_{i+1}: ONLY adjacent docs share shingles
    # (J = 18/58 ≈ 0.31 ≥ 0.3), so the 25-doc chain has diameter 24.
    m = 20
    blocks = [[f"b{i}w{j}" for j in range(m)] for i in range(26)]
    texts = [" ".join(blocks[i] + blocks[i + 1]) for i in range(25)]
    sf = _write_planted_docs(tmp_path, texts)

    rows = registry.QUERIES["q_neardup_clusters"](spark, sf).collect()
    assert {r.doc_id: r.cluster_rep for r in rows} == dict.fromkeys(range(25), 0)


def test_star_contraction_long_chain(spark):
    """A 60-node chain (diameter 60): star contraction must converge
    (O(log n) rounds) and label every node with the component min."""
    from geoparquet_python_spark.operators.dedup import star_contraction_components

    chain = [(i, i + 1) for i in range(100, 160)]
    labels = {
        r.node: r.label
        for r in star_contraction_components(
            spark.createDataFrame(chain, ["a", "b"])
        ).collect()
    }
    assert set(labels) == set(range(100, 161))
    assert set(labels.values()) == {100}


def test_star_contraction_matches_union_find(spark):
    """Random multi-component graph: labels must equal a driver-side
    union-find's component minima."""
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [e for e in edges if e[0] != e[1]]
    parent = list(range(200))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    touched = {x for e in edges for x in e}
    expected = {x: find(x) for x in touched}

    from geoparquet_python_spark.operators.dedup import star_contraction_components

    got = {
        r.node: r.label
        for r in star_contraction_components(
            spark.createDataFrame(edges, ["a", "b"])
        ).collect()
    }
    assert got == expected


def test_pack_group_nextfit_edges():
    """Next-fit policy unit check (no Spark): order preserved, exact
    boundary fits, oversized doc gets its own overflowing bin."""
    import pandas as pd

    from geoparquet_python_spark.operators.packing import _CAPACITY, _pack_group

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "shard": [0] * 5,
            "n_tokens": [300, 212, _CAPACITY + 10, 100, 412],
        }
    )
    out = _pack_group(pdf)
    assert list(out["doc_id"]) == [1, 2, 3, 4, 5]
    # 300+212 == capacity exactly -> same bin; oversized doc alone in
    # bin 1 (fill overflows); then 100+412=512 packs bin 2 exactly.
    assert list(out["bin"]) == [0, 0, 1, 2, 2]
    assert list(out["bin_fill_after"]) == [300, 512, _CAPACITY + 10, 100, 512]


def test_shard_count_scales_with_corpus():
    """Packing parallelism must grow with input (the fixed-shard form
    would do ALL packing in 8 tasks at 100 TB)."""
    from geoparquet_python_spark.operators.packing import (
        _DOCS_PER_SHARD,
        _MIN_SHARDS,
        shard_count,
    )

    assert shard_count(1) == _MIN_SHARDS
    assert shard_count(500) == 8
    assert shard_count(5_000) == 79
    # Linear growth: 100x the docs -> ~100x the shards.
    assert shard_count(500_000) == 500_000 // _DOCS_PER_SHARD + 1
    assert shard_count(50_000_000) > 100 * shard_count(500_000) / 110


def test_batch_group_length_bucketing_edges():
    """Greedy padded-batch assembly (no Spark): row cap, padded-token
    budget, and the oversized-doc-alone rule."""
    import pandas as pd

    from geoparquet_python_spark.operators.packing import (
        _BATCH_MAX_ROWS,
        _BATCH_TOKEN_BUDGET,
        _batch_group,
    )

    # Lengths chosen so: docs 1-4 (128 tokens) fill to the budget
    # exactly at 8 rows? 8*128=1024 == budget -> all 8 tiny docs batch
    # together; then a 200-token doc starts batch 1 (9th row > cap);
    # 600-token doc joins? (2*600=1200>budget) -> new batch; 2000-token
    # doc (over budget alone) still gets its own batch.
    pdf = pd.DataFrame(
        {
            "doc_id": list(range(1, 9)) + [9, 10, 11],
            "shard": [0] * 11,
            "n_tokens": [128] * 8 + [200, 600, 2000],
        }
    )
    out = _batch_group(pdf)
    assert list(out["batch"]) == [0] * 8 + [1, 2, 3]
    assert list(out["rows_after"])[:8] == list(range(1, 9))
    assert list(out["padded_after"])[-3:] == [200, 600, 2000]
    assert _BATCH_MAX_ROWS == 8 and _BATCH_TOKEN_BUDGET == 1024


def test_packing_and_batching_invariants_hypothesis():
    """Property check over random token-length profiles: next-fit bins
    never overflow except as singletons, batches respect both caps
    except as singletons, indices are contiguous from 0, and placement
    order matches the declared sort."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    import pandas as pd

    from geoparquet_python_spark.operators.packing import (
        _BATCH_MAX_ROWS,
        _BATCH_TOKEN_BUDGET,
        _CAPACITY,
        _batch_group,
        _pack_group,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(st.integers(min_value=1, max_value=700), min_size=1, max_size=60)
    )
    def check(lengths):
        pdf = pd.DataFrame(
            {
                "doc_id": range(len(lengths)),
                "shard": [0] * len(lengths),
                "n_tokens": lengths,
            }
        )
        packed = _pack_group(pdf.copy())
        # bins contiguous from 0; fills never exceed capacity unless the
        # bin holds a single oversized doc
        assert sorted(packed["bin"].unique()) == list(
            range(packed["bin"].max() + 1)
        )
        for b, grp in packed.groupby("bin"):
            total = grp["n_tokens"].sum()
            assert total <= _CAPACITY or len(grp) == 1
            assert grp["bin_fill_after"].iloc[-1] == total
        # doc order preserved
        assert list(packed["doc_id"]) == sorted(packed["doc_id"])

        batched = _batch_group(pdf.copy())
        assert sorted(batched["batch"].unique()) == list(
            range(batched["batch"].max() + 1)
        )
        for b, grp in batched.groupby("batch"):
            assert len(grp) <= _BATCH_MAX_ROWS
            mx = grp["n_tokens"].max()
            assert len(grp) * mx <= _BATCH_TOKEN_BUDGET or len(grp) == 1
        # ascending-length placement order
        key = list(zip(batched["n_tokens"], batched["doc_id"]))
        assert key == sorted(key)

    check()


@pytest.mark.parametrize(
    "name",
    [
        "q_simhash_blocked_pairs",
        "q_simhash_blocked_pairs_loose",
        "q_simhash_wide_blocked_pairs",
        "q_simhash_wide240_blocked_pairs",
    ],
)
def test_simhash_blocked_equals_brute(spark, sf_dir, sf_dir_small, name):
    """Pigeonhole recall invariant of the shared blocked pair join: each
    blocked query's pair set must equal the brute-force Hamming <= t
    pair set over the same signatures, at two scales. Recall 1.0 is a
    theorem (t flipped bits cannot touch all of the > t chunks); this
    asserts the implementation — collapse, chunk join, expansion —
    didn't break it."""
    import operator
    from functools import reduce

    from pyspark.sql import functions as F

    from geoparquet_python_spark.operators import dedup

    words, t = {
        "q_simhash_blocked_pairs": (dedup._SIMHASH_WORDS, dedup._HAMMING_T_BLOCKED),
        "q_simhash_blocked_pairs_loose": (dedup._SIMHASH_WORDS, dedup._HAMMING_T),
        "q_simhash_wide_blocked_pairs": (dedup._WIDE_WORDS, dedup._HAMMING_T),
        "q_simhash_wide240_blocked_pairs": (dedup._W240_WORDS, dedup._HAMMING_T),
    }[name]
    for d in (sf_dir_small, sf_dir):
        sig = dedup._simhash_signatures(spark, d, words).cache()
        a = sig.alias("a")
        b = sig.alias("b")
        hamming = reduce(
            operator.add,
            [
                F.bit_count(F.col(f"a.{c}").bitwiseXOR(F.col(f"b.{c}")))
                for c, _, _ in words
            ],
        )
        brute = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                hamming.alias("hamming"),
            )
            .where(F.col("hamming") <= t)
            .collect()
        }
        blocked = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in registry.QUERIES[name](spark, d).collect()
        }
        sig.unpersist()
        assert blocked == brute, (
            f"{d}: blocked {len(blocked)} pairs != brute {len(brute)}"
        )


@pytest.mark.parametrize(
    "exact,prefix",
    [
        ("q_ngram_jaccard_pairs", "q_jaccard_prefix_filter_pairs"),
        ("q_shingle_containment_pairs", "q_containment_prefix_filter_pairs"),
    ],
)
def test_prefix_filter_equals_inverted_index(spark, sf_dir, exact, prefix):
    """Prefix filtering is LOSSLESS: each prefix-filtered operator must
    produce exactly the inverted-index pair set with identical scores,
    keyed on the (doc_a, doc_b) or (contained_doc, container_doc) pair."""

    def keyed(name):
        rows = registry.QUERIES[name](spark, sf_dir).collect()
        return {(r[0], r[1]): r[2] for r in rows}

    want = keyed(exact)
    assert keyed(prefix) == want and len(want) > 0


def test_prefix_filter_jaccard_survives_boilerplate(spark, tmp_path):
    """The corpus-wide boilerplate shingle sits in every doc's SUFFIX
    (highest df), so it never generates candidates — yet the true
    near-dup pair must still surface with its exact uncapped score,
    without any recall-trading df cap."""
    boiler = "terms of service apply"
    texts = [
        f"{boiler} unrelated body {i} alpha{i} beta{i} gamma{i} delta{i}"
        for i in range(40)
    ]
    texts.append(f"{boiler} the quick brown fox jumps over the lazy dog tonight")
    texts.append(f"{boiler} the quick brown fox jumps over the lazy dog today")
    sf = _write_planted_docs(tmp_path, texts)

    brute = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in registry.QUERIES["q_ngram_jaccard_pairs"](spark, sf).collect()
    }
    pf = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in registry.QUERIES["q_jaccard_prefix_filter_pairs"](
            spark, sf
        ).collect()
    }
    assert (40, 41) in pf
    assert pf == brute


def test_semdedup_keep_first_invariants(spark, sf_dir_small):
    """Drop-list semantics: every dropped vector names a LOWER-id
    cluster-mate; no vector is dropped twice; the kept set per cell
    matches the stats rollup."""
    dropped = registry.QUERIES["q_semdedup_dropped"](
        spark, sf_dir_small
    ).collect()
    assert dropped, "tau should catch semantic dups at this sf"
    seen = set()
    by_cell: dict[int, int] = {}
    for r in dropped:
        assert r.dup_of < r.vec_id
        assert r.vec_id not in seen, "a vector must have one verdict"
        seen.add(r.vec_id)
        by_cell[r.cell] = by_cell.get(r.cell, 0) + 1
    stats = registry.QUERIES["q_semdedup_cell_stats"](
        spark, sf_dir_small
    ).collect()
    for s in stats:
        assert s.n_kept + s.n_dropped == s.n_members
        assert by_cell.get(s.cell, 0) == s.n_dropped


def test_cdc_merge_action_partition(spark, sf_dir_small):
    """Action labels partition the keyspace; the post-merge snapshot
    (non-delete actions) carries a value; deletes carry none."""
    rows = registry.QUERIES["q_cdc_merge_upsert"](
        spark, sf_dir_small
    ).collect()
    assert rows
    actions = {r.action for r in rows}
    assert actions <= {"carry", "insert", "update", "delete", "delete_noop"}
    ids = [r.user_id for r in rows]
    assert len(ids) == len(set(ids)), "one merge verdict per key"
    for r in rows:
        if r.action in ("delete", "delete_noop"):
            assert r.final_value is None
        else:
            assert r.final_value is not None
        if r.action == "carry":
            assert r.n_delta_ops == 0
        else:
            assert r.n_delta_ops > 0


def test_pmi_collocations_ranked(spark, sf_dir_small):
    """Top-k is ranked by the integer PMI ratio with deterministic
    tie-breaks, and every ratio is consistent with its own counts."""
    rows = registry.QUERIES["q_pmi_collocations"](
        spark, sf_dir_small
    ).collect()
    assert 0 < len(rows) <= 100
    n = None
    prev = None
    for r in rows:
        assert r.n_ab >= 5
        key = (-r.pmi_ratio_micro, r.w1, r.w2)
        if prev is not None:
            assert prev <= key, "output must be rank-ordered"
        prev = key
        if n is None:
            # recover N from any row: ratio = n_ab*N*1e6 // (n_a*n_b)
            lo = r.pmi_ratio_micro * r.n_a * r.n_b // (r.n_ab * 1_000_000)
            n = lo
        assert (
            r.n_ab * 1_000_000 * (n + 2) // (r.n_a * r.n_b)
            >= r.pmi_ratio_micro
        )


def test_cdc_merge_random_fold(spark, tmp_path):
    """One Spark run over a randomized adversarial changelog (equal-ts
    ties broken by event_id, tombstones in every position, delta-only
    and base-only keys) must equal a pure-Python fold of the same
    merge semantics."""
    import numpy as np
    import pandas as pd

    from geoparquet_python_spark.operators.cdc import _CUTOFF, _TOMBSTONE

    rng = np.random.RandomState(7)
    n_users, rows = 200, []
    eid = 0
    base_day = pd.Timestamp("2024-01-01")
    for u in range(n_users):
        n_ops = rng.randint(1, 12)
        # Coarse second-resolution offsets force frequent exact-ts
        # collisions so the event_id tiebreak is genuinely exercised.
        offs = rng.randint(0, 40, size=n_ops) * pd.Timedelta(days=1)
        for o in offs:
            rows.append(
                {
                    "event_id": eid,
                    "ts": base_day + o,
                    "user_id": u,
                    "event_type": str(
                        rng.choice(["signup", "click", "view", _TOMBSTONE])
                    ),
                    "value": float(rng.randint(0, 100)),
                    "props": "{}",
                }
            )
            eid += 1
    pdf = pd.DataFrame(rows)
    pdf.to_parquet(tmp_path / "events.parquet", index=False)

    got = {
        r.user_id: r
        for r in registry.QUERIES["q_cdc_merge_upsert"](
            spark, str(tmp_path)
        ).collect()
    }

    cutoff = pd.Timestamp(_CUTOFF)
    expected = {}
    for u, g in pdf.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        b = g[g.ts < cutoff]
        d = g[g.ts >= cutoff]
        b_last = b.iloc[-1] if len(b) else None
        if b_last is not None and b_last.event_type == _TOMBSTONE:
            b_last = None  # deleted before the cutoff -> absent base
            nb = 0
        else:
            nb = len(b)
        d_last = d.iloc[-1] if len(d) else None
        if b_last is None and d_last is None:
            continue  # tombstoned base, no delta: key nowhere
        if d_last is None:
            action, val = "carry", b_last.value
        elif d_last.event_type == _TOMBSTONE:
            action = "delete" if b_last is not None else "delete_noop"
            val = None
        elif b_last is None:
            action, val = "insert", d_last.value
        else:
            action, val = "update", d_last.value
        expected[u] = (action, val, nb, len(d))

    assert set(got) == set(expected)
    for u, (action, val, nb, nd) in expected.items():
        r = got[u]
        assert r.action == action, (u, r.action, action)
        assert (r.final_value is None) == (val is None)
        if val is not None:
            assert r.final_value == val
        assert r.n_base_ops == nb
        assert r.n_delta_ops == nd


def test_percentile_approx_rank_error_bound(spark, sf_dir):
    """The mergeable-sketch quantile path (percentile_approx — the
    operator you'd run at 100 TB instead of the exact `percentile`
    used by q_percentile_prices): Greenwald-Khanna guarantees the
    returned value's RANK is within n/accuracy of the target rank,
    regardless of merge order. Certify that bound per group instead
    of registering a value-hash query (the sketch's exact value is
    merge-order-dependent by design, unlike HLL's register-max)."""
    from geoparquet_python_spark.io import load_table
    from pyspark.sql import functions as F

    acc = 1000
    e = load_table(spark, sf_dir, "events")
    approx = {
        r.event_type: r.ap
        for r in e.groupBy("event_type")
        .agg(F.percentile_approx("value", 0.5, acc).alias("ap"))
        .collect()
    }
    rows = e.select("event_type", "value").collect()
    by_type: dict[str, list[float]] = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r.value)
    for et, ap in approx.items():
        xs = sorted(by_type[et])
        n = len(xs)
        # rank of the returned value (count of elements <= ap)
        rank = sum(1 for x in xs if x <= ap)
        target = 0.5 * n
        assert abs(rank - target) <= n / acc + 1, (et, rank, target, n)


def test_edge_docs_oracle_parity(spark, tmp_path):
    """Short (<3-token) and empty-text documents — legal corpus
    content the standard fixtures lack — must keep oracle parity for
    the queries whose handling of them is non-obvious: the ensemble
    gate (trigram-frame eligibility: the oracle must not drop
    sub-trigram docs), the CSV round trip (empty string must not
    come back as NULL), and the A-ES weighted sample (n_chars = 0
    must not divide to -inf — greatest(n_chars, 1) on both
    engines)."""
    import os
    import shutil

    import pandas as pd

    from geoparquet_python_spark.io import TABLES
    from geoparquet_python_spark.testing import duckdb_connect, run_compare

    src = "/root/testdata/sf0.001"
    for t in TABLES:
        if t != "documents":
            os.symlink(f"{src}/{t}.parquet", tmp_path / f"{t}.parquet")
    docs = pd.read_parquet(f"{src}/documents.parquet").head(40)
    edge = pd.DataFrame(
        {
            "doc_id": [900001, 900002, 900003],
            "text": ["solo", "two tokens", ""],
            "lang": ["en", "en", "en"],
            "source": ["edge", "edge", "edge"],
            "n_chars": [4, 10, 0],
        }
    )
    pd.concat([docs, edge], ignore_index=True).to_parquet(
        tmp_path / "documents.parquet", index=False
    )
    duck = duckdb_connect(str(tmp_path))
    for name in (
        "q_quality_ensemble_gate",
        "q_csv_roundtrip_stats",
        "q_weighted_priority_sample",
        # r6: empty/short docs yield zero positional shingles and
        # zero adjacent pairs — both engines must agree on the
        # degenerate frames, not error or diverge.
        "q_duplicate_ngram_spans",
        "q_duplicate_span_doc_stats",
        "q_bpe_merge_rounds",
        "q_stratified_quota_sample",
        # r6 (late): empty/short docs exercise the degenerate LM /
        # bigram / pixel frames — the empty-string "token", zero
        # adjacent pairs, and md5("")-derived payloads must fold
        # identically on both engines.
        "q_dsir_importance_selection",
        "q_vocab_oov_rate",
        "q_source_divergence_matrix",
        "q_bpe_batch_merge_round",
        "q_image_ahash_dedup",
        # r6 (statistics batch): an empty doc is one ""-token chunk
        # (CDC), a zero-length x-axis point (bootstrap weights still
        # sum it), a rank-table entry for the "" token (Zipf), the
        # origin corner of the Pareto axes, a sub-window "clip"
        # (scene cuts), and a 32-slot signature of zero shingles
        # (merged MinHash) — every degenerate fold must agree.
        "q_cdc_chunk_dedup",
        "q_bootstrap_mean_ci",
        "q_token_zipf_slope",
        "q_pareto_doc_frontier",
        "q_source_minhash_similarity",
        "q_multimodal_scene_cuts",
    ):
        run_compare(
            spark,
            duck,
            name,
            registry.QUERIES[name],
            registry.ORACLES[name],
            str(tmp_path),
        )
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_asof_nearest_equal_ts_tiebreak(spark, tmp_path):
    """ADVICE r5: when a user has several clicks at the identical
    nearest timestamp, the NEAREST as-of join must pick the LOWEST
    click event_id — the oracle's ORDER BY abs(..), tsu, event_id rule
    — on both engines. The standard fixtures carry no equal-ts ties,
    so this builds an events table where every tie pattern appears:
    two clicks at exactly the purchase ts, two clicks equidistant
    before, and a backward/forward distance tie (backward must win)."""
    import os
    import shutil

    import pandas as pd

    from geoparquet_python_spark.io import TABLES
    from geoparquet_python_spark.testing import duckdb_connect, run_compare

    src = "/root/testdata/sf0.001"
    for t in TABLES:
        if t != "events":
            os.symlink(f"{src}/{t}.parquet", tmp_path / f"{t}.parquet")
    t0 = pd.Timestamp("2024-01-01 12:00:00")
    s = pd.Timedelta(seconds=1)
    rows = [
        # user 1: two clicks AT the purchase ts (ids 11, 12) -> 11 wins
        (11, t0, 1, "click", 1.0, "{}"),
        (12, t0, 1, "click", 1.0, "{}"),
        (13, t0, 1, "purchase", 5.0, "{}"),
        # user 2: clicks 10s before (ids 22, 21 at same ts) and 20s
        # after -> backward pair nearest, lowest id 21 wins
        (21, t0 - 10 * s, 2, "click", 1.0, "{}"),
        (22, t0 - 10 * s, 2, "click", 1.0, "{}"),
        (23, t0 + 20 * s, 2, "click", 1.0, "{}"),
        (24, t0, 2, "purchase", 5.0, "{}"),
        # user 3: backward at -7s and forward at +7s -> backward wins
        # the distance tie (delta_us = -7e6)
        (31, t0 - 7 * s, 3, "click", 1.0, "{}"),
        (32, t0 + 7 * s, 3, "click", 1.0, "{}"),
        (33, t0, 3, "purchase", 5.0, "{}"),
    ]
    pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    ).to_parquet(tmp_path / "events.parquet", index=False)
    duck = duckdb_connect(str(tmp_path))
    name = "q_asof_purchase_click_nearest"
    run_compare(
        spark,
        duck,
        name,
        registry.QUERIES[name],
        registry.ORACLES[name],
        str(tmp_path),
    )
    got = {
        r.purchase_event_id: (r.click_event_id, r.delta_us)
        for r in registry.QUERIES[name](spark, str(tmp_path)).collect()
    }
    assert got[13] == (11, 0)
    assert got[24] == (21, -10_000_000)
    assert got[33] == (31, -7_000_000)
    shutil.rmtree(tmp_path, ignore_errors=True)


def test_pagerank_matches_pure_python_fold(spark, sf_dir_small):
    """Independent replication: recompute the 3-iteration fixed-point
    PageRank recurrence in pure Python from the edge list and demand
    EXACT int64 equality with the Spark result — a different
    implementation path (dict fold vs joins) over the same integer
    algebra, so any divergence in div semantics, damping order, or
    join fan-out shows up as a hard mismatch. Also checks the
    conservation invariant: with no dangling nodes, total rank stays
    within per-node truncation loss of the 1e12 unit mass."""
    from geoparquet_python_spark.operators.dedup import _exact_jaccard_pairs
    from geoparquet_python_spark.operators.graph import (
        _PR_D_DEN,
        _PR_D_NUM,
        _PR_SCALE,
        _PR_T,
    )

    edges = [
        (r.doc_a, r.doc_b)
        for r in _exact_jaccard_pairs(spark, sf_dir_small).collect()
    ]
    assert edges, "fixture must yield a non-empty near-dup graph"
    sym = edges + [(b, a) for a, b in edges]
    deg: dict[int, int] = {}
    for s, _ in sym:
        deg[s] = deg.get(s, 0) + 1
    n = len(deg)
    ranks = {v: _PR_SCALE // n for v in deg}
    for _ in range(_PR_T):
        contrib: dict[int, int] = {v: 0 for v in deg}
        for s, d in sym:
            # truncating div on non-negative ints == Spark `div`
            contrib[d] += ranks[s] // deg[s]
        base = (15 * _PR_SCALE) // (_PR_D_DEN * n)
        ranks = {
            v: base + (_PR_D_NUM * c) // _PR_D_DEN
            for v, c in contrib.items()
        }
    got = {
        r.doc_id: (r.rank_fp, r.degree)
        for r in registry.QUERIES["q_pagerank_neardup"](
            spark, sf_dir_small
        ).collect()
    }
    assert set(got) == set(ranks)
    for v, rfp in ranks.items():
        assert got[v] == (rfp, deg[v]), (v, got[v], rfp, deg[v])
    total = sum(ranks.values())
    # each of n nodes loses < 1 unit per div/damping truncation per
    # iteration; 3 iterations + init
    assert _PR_SCALE - total < 4 * n * (max(deg.values()) + 2)
    assert total <= _PR_SCALE


def test_semdedup_matches_pure_numpy_fold(spark, sf_dir_small):
    """Independent replication of the whole SemDeDup verdict in pure
    numpy — fixed-point int64 assignment to the SAME trained
    centroids, within-cell pairwise fixed-point cosine, keep-first
    rule — compared EXACTLY (ids and cos_micro) against the Spark
    drop list."""
    import numpy as np
    import pyarrow.parquet as pq

    from geoparquet_python_spark.operators.kmeans import _train
    from geoparquet_python_spark.operators.semdedup import _TAU

    tbl = pq.read_table(f"{sf_dir_small}/embeddings.parquet")
    vec_ids = tbl.column("vec_id").to_pylist()
    emb = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    xfix = np.floor(emb * 1_000_000).astype(np.int64)
    cents = np.array(_train(spark, sf_dir_small), dtype=np.int64)
    # nearest centroid, ties to lowest cid (argmin returns first min)
    d2 = ((xfix[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    cell = d2.argmin(axis=1)
    # fixed-point pair cosine, exactly dot_scaled_arrow's math
    terms = lambda a, b: np.floor(a * b * 1e12).astype(np.int64).sum()  # noqa: E731
    n2 = {i: terms(emb[i], emb[i]) for i in range(len(vec_ids))}
    expected = {}
    by_cell: dict[int, list[int]] = {}
    for i, c in enumerate(cell):
        by_cell.setdefault(int(c), []).append(i)
    for c, idxs in by_cell.items():
        idxs = sorted(idxs, key=lambda i: vec_ids[i])
        for bi_pos, bi in enumerate(idxs):
            for ai in idxs[:bi_pos]:
                cos = (terms(emb[ai], emb[bi]) / 1e12) / (
                    (n2[ai] / 1e12) ** 0.5 * (n2[bi] / 1e12) ** 0.5
                )
                if cos >= _TAU:
                    key = vec_ids[bi]
                    if key not in expected:
                        expected[key] = (
                            c,
                            vec_ids[ai],
                            int(np.floor(cos * 1e6)),
                        )
                    break  # lowest-id qualifying mate found
    got = {
        r.vec_id: (r.cell, r.dup_of, r.cos_micro)
        for r in registry.QUERIES["q_semdedup_dropped"](
            spark, sf_dir_small
        ).collect()
    }
    assert got == expected


def test_duplicate_spans_exact_boundaries(spark, tmp_path):
    """Planted-corpus guarantee of the span detector's core claim: a
    cross-document verbatim run of L >= k tokens is recovered as ONE
    maximal span with exact [start, end] boundaries; two runs in one
    doc separated by more than k unique tokens stay separate spans;
    a run repeated only WITHIN one document is not marked."""
    from geoparquet_python_spark.operators.spans import _K, _spans

    shared = " ".join(f"dup{i}" for i in range(12))  # 12-token block
    shared2 = " ".join(f"other{i}" for i in range(_K))  # exactly k tokens
    intra = " ".join(f"self{i}" for i in range(_K))
    texts = [
        # doc 0: shared at positions 3..14, shared2 at 20..24
        f"a0 b0 {shared} c0 d0 e0 f0 g0 {shared2} h0",
        # doc 1: shared at positions 1..12
        f"{shared} tail1a tail1b",
        # doc 2: shared2 at positions 2..6
        f"x2 {shared2} y2 z2",
        # doc 3: intra-doc repeat only -- must NOT be marked
        f"{intra} gap3a gap3b gap3c gap3d gap3e gap3f {intra}",
    ]
    sf = _write_planted_docs(tmp_path, texts)
    spans = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in _spans(spark, sf).collect()
    }
    assert spans == {
        (0, 3, 14, 12),
        (0, 20, 20 + _K - 1, _K),
        (1, 1, 12, 12),
        (2, 2, 2 + _K - 1, _K),
    }


def test_bpe_merge_overlap_rule(spark, tmp_path):
    """Planted corpus pinning the BPE recurrence: round 0 must pick
    the most frequent pair with lexicographic tie-break, a doubled
    pair inside a run merges greedily left-to-right (run-parity), and
    round 1 counts pairs over the RE-SEQUENCED symbols (merged symbol
    participates as one token)."""
    from geoparquet_python_spark.operators.bpe import (
        _merge_round,
        q_bpe_merge_rounds,
    )

    texts = [
        "a a a a a b c",  # run of 5 'a': 4 (a,a) pairs, 2 merges
        "a a b c x y",  # 1 (a,a) pair, 1 merge
        "b c x y z w",
    ]
    sf = _write_planted_docs(tmp_path, texts)
    rows = {r.round: r for r in q_bpe_merge_rounds(spark, sf).collect()}
    # round 0: (a,a) has 5 adjacency counts (4+1); (b,c) only 3.
    assert (rows[0].merged_l, rows[0].merged_r) == ("a", "a")
    assert rows[0].n_pair == 5
    # run of 5 -> 2 merges (positions 1,3), run of 2 -> 1 merge.
    assert rows[0].n_merged == 3
    # after round 0 doc0 is "(a a) (a a) a b c": (b,c) now wins at 3.
    assert (rows[1].merged_l, rows[1].merged_r) == ("b", "c")
    assert rows[1].n_pair == 3 and rows[1].n_merged == 3


def _ref_bpe_rounds(texts, rounds=3):
    """Pure-python greedy BPE reference: count adjacent pairs, merge
    the (count DESC, lexicographic) winner LEFT-TO-RIGHT, repeat."""
    from collections import Counter

    seqs = [t.split(" ") for t in texts]
    stats = []
    for rnd in range(rounds):
        cnt = Counter()
        for s in seqs:
            for i in range(len(s) - 1):
                cnt[(s[i], s[i + 1])] += 1
        (m1, m2), n = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merged = 0
        new_seqs = []
        for s in seqs:
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == m1 and s[i + 1] == m2:
                    out.append(s[i] + " " + s[i + 1])
                    merged += 1
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            new_seqs.append(out)
        seqs = new_seqs
        stats.append((rnd, m1, m2, n, merged))
    return stats


def test_bpe_rounds_match_greedy_reference(spark, tmp_path):
    """Randomized corpora (tiny alphabet => dense ties, doubled pairs,
    long runs) pin the dataflow BPE to the sequential greedy
    left-to-right reference — the declarative run-parity rule must
    reproduce the imperative merge loop exactly, round after round."""
    import random

    from geoparquet_python_spark.operators.bpe import q_bpe_merge_rounds

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        words = ["a", "b", "c", "aa"]
        texts = [
            " ".join(rng.choice(words) for _ in range(rng.randint(5, 30)))
            for _ in range(6)
        ]
        d = tmp_path / f"bpe{seed}"
        d.mkdir()
        sf = _write_planted_docs(d, texts)
        got = [
            (r.round, r.merged_l, r.merged_r, r.n_pair, r.n_merged)
            for r in q_bpe_merge_rounds(spark, sf).collect()
        ]
        assert got == _ref_bpe_rounds(texts), f"seed {seed}"


def test_bpe_batch_round_skips_conflicting_pair(spark, tmp_path):
    """Batched-round selection: pick 2 must be the best pair sharing
    NO symbol with pick 1 — (b,c) is skipped because it shares 'b'
    with the winner (a,b), and (c,d) is selected even though it also
    touches 'c' (conflict is only against SELECTED picks)."""
    from geoparquet_python_spark.operators.bpe import (
        q_bpe_batch_merge_round,
    )

    texts = [
        "a b x a b y a b z a b q a b",  # (a,b) x5
        "b c x b c y b c z b c",  # (b,c) x4 — conflicts with (a,b)
        "c d x c d y c d",  # (c,d) x3 — disjoint from (a,b)
    ]
    sf = _write_planted_docs(tmp_path, texts)
    rows = {r.pick_order: r for r in q_bpe_batch_merge_round(spark, sf).collect()}
    assert (rows[1].merged_l, rows[1].merged_r) == ("a", "b")
    assert (rows[2].merged_l, rows[2].merged_r) == ("c", "d")
    assert rows[1].n_merged == 5 and rows[2].n_merged == 3


def test_dsir_prefers_target_like_docs(spark, tmp_path):
    """Planted DSIR check: with a target corpus of 'alpha beta' text,
    a pool doc written in target vocabulary must outrank a pool doc
    of vocabulary the target never uses, and the selection keeps the
    pool only (target docs never score)."""
    import pandas as pd

    from geoparquet_python_spark.operators.dsir import (
        q_dsir_importance_selection,
    )

    rows = [
        (0, "alpha beta alpha beta alpha beta", "src0"),
        (1, "beta alpha beta alpha", "src1"),
        (2, "alpha beta alpha beta", "srcX"),  # target-like pool doc
        (3, "junk noise junk noise", "srcX"),  # off-target pool doc
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "text": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "source": [r[2] for r in rows],
            "n_chars": [len(r[1]) for r in rows],
        }
    )
    pdf.to_parquet(f"{tmp_path}/documents.parquet")
    got = q_dsir_importance_selection(spark, str(tmp_path)).collect()
    assert [r.doc_id for r in got] == [2, 3]  # pool only, best first
    assert got[0].avg_llr > 0 > got[1].avg_llr


def test_two_hop_homophily_matches_numpy_fold(spark, sf_dir_small):
    """Independent numpy replication of the 2-hop homophily verdict:
    same trained cells, fixed-point cosine top-2 edges, 2-hop distinct
    expansion excluding self, per-vector same-label counts."""
    import numpy as np
    import pyarrow.parquet as pq

    from geoparquet_python_spark.operators.kmeans import _train
    from geoparquet_python_spark.operators.similarity import _HOP_K

    tbl = pq.read_table(f"{sf_dir_small}/embeddings.parquet")
    vec_ids = tbl.column("vec_id").to_pylist()
    labels = dict(zip(vec_ids, tbl.column("label").to_pylist()))
    emb = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    xfix = np.floor(emb * 1_000_000).astype(np.int64)
    cents = np.array(_train(spark, sf_dir_small), dtype=np.int64)
    cell = ((xfix[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    terms = lambda a, b: np.floor(a * b * 1e12).astype(np.int64).sum()  # noqa: E731
    n2 = [terms(emb[i], emb[i]) for i in range(len(vec_ids))]
    by_cell: dict[int, list[int]] = {}
    for i, c in enumerate(cell):
        by_cell.setdefault(int(c), []).append(i)
    edges: dict[int, list[int]] = {}
    for c, idxs in by_cell.items():
        for qi in idxs:
            cands = []
            for ci in idxs:
                if ci == qi:
                    continue
                cos = (terms(emb[qi], emb[ci]) / 1e12) / (
                    (n2[qi] / 1e12) ** 0.5 * (n2[ci] / 1e12) ** 0.5
                )
                cands.append((-cos, vec_ids[ci]))
            cands.sort()
            edges[vec_ids[qi]] = [cid for _, cid in cands[:_HOP_K]]
    expected = {}
    for q, nb1 in edges.items():
        nbhd = set(nb1)
        for m in nb1:
            nbhd.update(c for c in edges.get(m, []) if c != q)
        same = sum(1 for c in nbhd if labels[c] == labels[q])
        expected[q] = (len(nbhd), same, same * 1_000_000 // len(nbhd))
    got = {
        r.vec_id: (r.n_nbrs, r.n_same, r.homophily_ppm)
        for r in registry.QUERIES["q_knn_two_hop_homophily"](
            spark, sf_dir_small
        ).collect()
    }
    assert got == expected


def test_fuzzy_name_pairs_blocking_is_lossless(spark, sf_dir_small):
    """The first-token block + |Δlen| prefilter must not dismiss any
    true pair RELATIVE TO ITS BLOCKING CONTRACT, and the Δlen filter
    alone is provably lossless: brute-force all-pairs Levenshtein ≤ t
    restricted to same-first-token pairs must equal the query output
    exactly (pairs AND distances)."""
    from geoparquet_python_spark.io import load_table
    from geoparquet_python_spark.operators.linkage import _MAX_DIST

    names = sorted(
        {
            r.p_name
            for r in load_table(spark, sf_dir_small, "part")
            .select("p_name")
            .collect()
        }
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    brute = {}
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            if a.split(" ")[0] != b.split(" ")[0]:
                continue
            d = lev(a, b)
            if d <= _MAX_DIST:
                brute[(a, b)] = d

    got = {
        (r.name_a, r.name_b): r.dist
        for r in registry.QUERIES["q_fuzzy_name_pairs"](
            spark, sf_dir_small
        ).collect()
    }
    assert got == brute


def test_fuzzy_entity_clusters_match_union_find(spark, sf_dir_small):
    """The star-contraction entity table must equal a pure-Python
    union-find over the same fuzzy pairs: entity = min canonical key
    of the connected component, n_members = component size."""
    pairs = [
        (r.key_a, r.key_b)
        for r in registry.QUERIES["q_fuzzy_name_pairs"](
            spark, sf_dir_small
        ).collect()
    ]
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    comp: dict[int, list[int]] = {}
    for node in parent:
        comp.setdefault(find(node), []).append(node)
    expected = {
        (m, root, len(members))
        for root, members in comp.items()
        for m in members
    }

    got = {
        (r.member_key, r.entity_key, r.n_members)
        for r in registry.QUERIES["q_fuzzy_entity_clusters"](
            spark, sf_dir_small
        ).collect()
    }
    assert got == expected


def test_pareto_frontier_matches_brute_dominance(spark, sf_dir_small):
    """The two-stage window skyline must equal the quadratic dominance
    fold: a doc is on the frontier iff no other doc is >= on both axes
    and > on at least one."""
    from pyspark.sql import functions as F

    from geoparquet_python_spark.io import load_table

    pts = [
        (r.doc_id, r.n_chars, r.y)
        for r in load_table(spark, sf_dir_small, "documents")
        .select(
            "doc_id",
            "n_chars",
            F.size(F.array_distinct(F.split("text", " ")))
            .cast("bigint")
            .alias("y"),
        )
        .collect()
    ]
    expected = {
        d
        for d, x, y in pts
        if not any(
            bx >= x and by >= y and (bx > x or by > y)
            for bd, bx, by in pts
            if bd != d
        )
    }
    got = {
        r.doc_id
        for r in registry.QUERIES["q_pareto_doc_frontier"](
            spark, sf_dir_small
        ).collect()
    }
    assert got == expected


def test_cdc_chunks_reconstruct_documents(spark, sf_dir_small):
    """Content-defined chunking must PARTITION each document: chunks
    joined in order reproduce the original text exactly, and chunk
    token counts sum to the doc's token count (no dropped/duplicated
    tokens at boundaries)."""
    from pyspark.sql import functions as F

    from geoparquet_python_spark.io import load_table
    from geoparquet_python_spark.operators.chunking import _M, _W

    d = load_table(spark, sf_dir_small, "documents").select(
        "doc_id", "text", F.split("text", " ").alias("toks")
    )
    gram = " || ' ' || ".join(f"toks[i - {_W - 1 - j}]" for j in range(_W))
    gram_hash = (
        f"CAST(conv(substring(md5({gram}), 1, 15), 16, 10) AS BIGINT)"
    )
    bpos = F.expr(
        f"concat(filter(transform(toks, (x, i) -> CASE WHEN i >= {_W - 1} "
        f"AND i + 1 < size(toks) AND {gram_hash} % {_M} = 0 "
        f"THEN i + 1 END), p -> p IS NOT NULL), array(size(toks)))"
    )
    chunks = F.expr(
        "transform(bpos, (b, k) -> concat_ws(' ', slice(toks, "
        "CASE WHEN k = 0 THEN 1 ELSE bpos[k - 1] + 1 END, "
        "b - CASE WHEN k = 0 THEN 0 ELSE bpos[k - 1] END)))"
    )
    rows = (
        d.withColumn("bpos", bpos)
        .select("text", chunks.alias("chunks"))
        .collect()
    )
    assert rows
    for r in rows:
        assert " ".join(r.chunks) == r.text


def test_zipf_slope_negative_for_natural_text(spark, sf_dir_small):
    """Zipf's law: every language's fitted log-log slope must be
    strictly negative (frequency decays with rank), and the reported
    rational must equal a brute-force numpy OLS on the same
    fixed-point points."""
    import math

    from pyspark.sql import functions as F

    from geoparquet_python_spark.io import load_table
    from geoparquet_python_spark.operators.textanalysis import _ZIPF_R

    got = {
        r.lang: (r.slope_num, r.slope_den)
        for r in registry.QUERIES["q_token_zipf_slope"](
            spark, sf_dir_small
        ).collect()
    }
    assert got, "no languages fitted"
    tf = (
        load_table(spark, sf_dir_small, "documents")
        .select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("lang", "tok")
        .count()
        .collect()
    )
    by_lang: dict = {}
    for r in tf:
        by_lang.setdefault(r.lang, []).append((r["count"], r.tok))
    for lang, (num, den) in got.items():
        assert num < 0 < den, f"{lang}: slope not negative"
        ranked = sorted(by_lang[lang], key=lambda t: (-t[0], t[1]))
        pts = [
            (
                round(math.log(i + 1) * 1_000_000),
                round(math.log(cnt) * 1_000_000),
            )
            for i, (cnt, _) in enumerate(ranked[:_ZIPF_R])
        ]
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts)
        sxy = sum(x * y for x, y in pts)
        assert (num, den) == (n * sxy - sx * sy, n * sxx - sx * sx)


def test_matryoshka_recall_bounds_and_full_width_identity(
    spark, sf_dir_small
):
    """recall ∈ [0,1] with n_overlap integral; and the audit's FULL
    ranking must equal q_cosine_topk_brute's top-5 set (same queries,
    same exact lattice) — the audit can't drift from the baseline."""
    rows = registry.QUERIES["q_matryoshka_recall_audit"](
        spark, sf_dir_small
    ).collect()
    assert len(rows) == 10
    for r in rows:
        assert 0 <= r.n_overlap <= 5
        assert abs(r.recall - r.n_overlap / 5.0) == 0.0


def test_session_paths_count_matches_sessionizer(spark, sf_dir_small):
    """The path miner's session rule must be THE session rule: total
    gap-rule session count equals q_session_windows' row count (the
    built-in session_window on the same 30-min gap). The stateful
    streaming sessionizer is NOT the right baseline — it emits only
    watermark-closed sessions."""
    from pyspark.sql import functions as F

    paths = registry.QUERIES["q_session_top_paths"](
        spark, sf_dir_small
    ).collect()
    assert paths and all(r.n_sessions >= r.n_users >= 1 for r in paths)
    n_sessions_total = registry.QUERIES["q_session_windows"](
        spark, sf_dir_small
    ).count()
    # Rebuild the full (untruncated) path table with the same rule.
    from geoparquet_python_spark.io import load_table
    from geoparquet_python_spark.operators.analytics import _TRANS_GAP_MIN
    from pyspark.sql import Window

    e = load_table(spark, sf_dir_small, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    n_all = (
        e.select(
            "user_id",
            F.when(
                gap.isNull() | (gap > _TRANS_GAP_MIN * 60 * 1_000_000),
                1,
            )
            .otherwise(0)
            .alias("brk"),
        )
        .agg(F.sum("brk"))
        .collect()[0][0]
    )
    assert n_all == n_sessions_total


def test_bootstrap_ci_brackets_sample_mean(spark, sf_dir_small):
    """The Poisson-bootstrap interval must be ordered, contain the
    full-sample mean for every language (B=32 on thousands of docs —
    the resampling distribution is tight around the estimate), and
    report the full replicate count."""
    rows = registry.QUERIES["q_bootstrap_mean_ci"](
        spark, sf_dir_small
    ).collect()
    assert rows
    for r in rows:
        assert r.n_replicates == 32
        assert r.boot_lo_micro <= r.boot_hi_micro
        assert r.boot_lo_micro <= r.mean_chars_micro <= r.boot_hi_micro


def test_kcore_matches_python_peeling_and_converges_within_unroll(
    spark, sf_dir_small
):
    """The Spark fixpoint peel must equal a pure-Python peel of the
    same edge set, and must converge within the oracle's unroll depth
    _R (otherwise the unrolled oracle would be a truncation, not an
    exact mirror)."""
    from geoparquet_python_spark.operators.dedup import (
        _exact_jaccard_pairs,
    )
    from geoparquet_python_spark.operators.kcore import _K, _R

    pairs = {
        (r.doc_a, r.doc_b)
        for r in _exact_jaccard_pairs(spark, sf_dir_small)
        .select("doc_a", "doc_b")
        .collect()
    }
    adj: dict = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rounds = 0
    while True:
        drop = {u for u, ns in adj.items() if len(ns) < _K}
        if not drop:
            break
        rounds += 1
        for u in drop:
            for v in adj[u]:
                adj[v].discard(u)
            del adj[u]
    assert rounds <= _R, f"peeling took {rounds} rounds > unroll {_R}"
    expected = {u: len(ns) for u, ns in adj.items() if ns}
    got = {
        r.doc_id: r.core_degree
        for r in registry.QUERIES["q_kcore_vertices"](
            spark, sf_dir_small
        ).collect()
    }
    assert got == expected


def test_rendezvous_resharding_minimal_movement(spark, sf_dir_small):
    """The rendezvous guarantee as assertions: adding shard S moves
    ONLY the docs the new shard wins — every surviving shard reports
    n_moved = 0, the new shard reports n_moved = n_docs, and the
    global moved fraction sits near 1/S1."""
    from geoparquet_python_spark.operators.sharding import _S0, _S1

    rows = registry.QUERIES["q_rendezvous_resharding"](
        spark, sf_dir_small
    ).collect()
    by_shard = {r.shard: r for r in rows}
    assert set(by_shard) <= set(range(_S1))
    for s, r in by_shard.items():
        if s < _S0:
            assert r.n_moved == 0, f"shard {s} reported movement"
        else:
            assert r.n_moved == r.n_docs and r.moved_ppm == 1_000_000
    total = sum(r.n_docs for r in rows)
    moved = sum(r.n_moved for r in rows)
    # expected 1/17 ≈ 5.9%; allow generous binomial slack
    assert 0.02 <= moved / total <= 0.12


def test_cuped_matches_numpy_and_reduces_variance(spark, sf_dir_small):
    """θ and the adjusted means must equal a numpy recomputation from
    the per-user (x, y) table, and CUPED must do its job: pooled
    variance of y − θ·x is no greater than the variance of y."""
    import numpy as np

    from geoparquet_python_spark.io import load_table
    from geoparquet_python_spark.operators.experiments import _CUT
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir_small, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    pu = (
        e.groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("ts") < F.lit(_CUT).cast("timestamp"), cents)),
                F.lit(0),
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("ts") >= F.lit(_CUT).cast("timestamp"), cents)),
                F.lit(0),
            ).alias("y"),
        )
        .withColumn(
            "variant",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long")
            % 2,
        )
        .collect()
    )
    x = np.array([r.x for r in pu], dtype=np.float64)
    y = np.array([r.y for r in pu], dtype=np.float64)
    v = np.array([r.variant for r in pu])
    n = len(x)
    theta = (n * (x * y).sum() - x.sum() * y.sum()) / (
        n * (x * x).sum() - x.sum() ** 2
    )
    rows = {
        r.variant: r
        for r in registry.QUERIES["q_cuped_experiment_readout"](
            spark, sf_dir_small
        ).collect()
    }
    assert set(rows) == {0, 1}
    for vid in (0, 1):
        m = v == vid
        r = rows[vid]
        assert r.n_users == int(m.sum())
        assert abs(r.mean_post - y[m].mean()) < 1e-6
        expected_adj = y[m].mean() - theta * (x[m].mean() - x.mean())
        assert abs(r.mean_adj - expected_adj) < 1e-6
    assert np.var(y - theta * x) <= np.var(y) + 1e-9


def test_welch_readout_matches_scipy_style_recompute(spark, sf_dir_small):
    """welch_t must equal the textbook unequal-variance statistic
    recomputed in numpy from the per-user post sums, and srm_chi2 the
    one-dof 50/50 chi-square."""
    import numpy as np

    from geoparquet_python_spark.io import load_table
    from geoparquet_python_spark.operators.experiments import _CUT
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir_small, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    pu = (
        e.groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("ts") >= F.lit(_CUT).cast("timestamp"), cents)),
                F.lit(0),
            ).alias("y")
        )
        .withColumn(
            "variant",
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long")
            % 2,
        )
        .collect()
    )
    y = np.array([r.y for r in pu], dtype=np.float64)
    v = np.array([r.variant for r in pu])
    y0, y1 = y[v == 0], y[v == 1]
    r = registry.QUERIES["q_ab_welch_readout"](spark, sf_dir_small).collect()[0]
    assert (r.n0, r.n1) == (len(y0), len(y1))
    t = (y1.mean() - y0.mean()) / np.sqrt(
        y0.var(ddof=1) / len(y0) + y1.var(ddof=1) / len(y1)
    )
    assert abs(r.welch_t - t) < 1e-9
    assert abs(
        r.srm_chi2 - (len(y0) - len(y1)) ** 2 / (len(y0) + len(y1))
    ) < 1e-12


def test_scene_cuts_match_pure_python(spark, sf_dir_small):
    """The mapInPandas kernel must agree with a from-scratch Python
    recomputation of mean-hash Hamming cuts on the same payloads."""
    import hashlib

    from geoparquet_python_spark.io import load_table
    from geoparquet_python_spark.operators.multimodal import (
        _SC_FB,
        _SC_FRAMES,
        _SC_T,
    )

    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_dir_small, "documents")
        .where("doc_id < 100")
        .collect()
    }
    got = {
        r.doc_id: (r.n_frames, r.n_cuts)
        for r in registry.QUERIES["q_multimodal_scene_cuts"](
            spark, sf_dir_small
        ).collect()
    }
    assert set(got) == set(docs)
    for doc_id, text in docs.items():
        payload = (
            hashlib.md5(text.encode()).digest()
            + hashlib.md5((text + "x").encode()).digest()
        )
        frames = [
            list(payload[f * _SC_FB : (f + 1) * _SC_FB])
            for f in range(_SC_FRAMES)
        ]
        bits = [
            [1 if _SC_FB * b > sum(fr) else 0 for b in fr] for fr in frames
        ]
        cuts = sum(
            1
            for f in range(_SC_FRAMES - 1)
            if sum(x != y for x, y in zip(bits[f], bits[f + 1])) >= _SC_T
        )
        assert got[doc_id] == (_SC_FRAMES, cuts)


def test_reachability_matches_python_bfs(spark, sf_dir_small):
    """The recursive-CTE min-hop table must equal a pure-Python BFS
    over the same session-transition edge set."""
    from collections import deque

    from geoparquet_python_spark.io import load_table
    from geoparquet_python_spark.operators.analytics import (
        _REACH_SRC,
        _TRANS_GAP_MIN,
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir_small, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    edges = {
        (r.src, r.dst)
        for r in e.select(
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
            gap.alias("g"),
        )
        .where(
            F.col("dst").isNotNull()
            & (F.col("g") <= _TRANS_GAP_MIN * 60 * 1_000_000)
        )
        .distinct()
        .collect()
    }
    adj: dict = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    dist = {_REACH_SRC: 0}
    q = deque([_REACH_SRC])
    while q:
        u = q.popleft()
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                q.append(v)
    got = {
        r.event_type: r.min_hops
        for r in registry.QUERIES["q_reachable_event_types"](
            spark, sf_dir_small
        ).collect()
    }
    assert got == dist


def test_bootstrap_effect_ci_brackets_point_estimate(spark, sf_dir_small):
    """The effect interval must be ordered and bracket the full-sample
    point effect, and the point effect must agree (to the micro-floor)
    with the Welch readout's mean difference."""
    r = registry.QUERIES["q_bootstrap_effect_ci"](
        spark, sf_dir_small
    ).collect()[0]
    assert r.n_replicates == 32
    assert r.effect_lo_micro <= r.point_effect_micro <= r.effect_hi_micro
    w = registry.QUERIES["q_ab_welch_readout"](spark, sf_dir_small).collect()[0]
    # floored micro-means vs exact double means: ≤1 micro-unit per side
    assert abs(r.point_effect_micro / 1e6 - (w.mean1 - w.mean0)) < 2e-6


def test_two_level_rendezvous_balance_and_totals(spark, sf_dir_small):
    """All 20 hierarchical shards must be populated with multinomial
    balance (no shard above 3x the uniform share at n=500+), ppm
    shares must sum to ~1e6, and totals must equal the corpus."""
    import duckdb

    rows = registry.QUERIES["q_rendezvous_two_level"](
        spark, sf_dir_small
    ).collect()
    n_docs_total = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf_dir_small}/documents.parquet'"
    ).fetchone()[0]
    assert sum(r.n_docs for r in rows) == n_docs_total
    assert len(rows) == 20
    uniform = n_docs_total / 20
    for r in rows:
        assert r.n_docs < 3 * uniform, f"shard {r.shard} overloaded"
    assert abs(sum(r.load_ppm for r in rows) - 1_000_000) <= 20


def test_shingles_zipped_equals_indexed(spark):
    """The round-8 zip-with-shifted-self shingle build must emit the
    identical per-doc shingle SET as the original transform-with-index
    form (guarded here so future edits can't silently change shingle
    semantics), including the short-doc edge cases (n < k, n == k) and
    repeated-token docs. The document helpers built on it
    (shingle_sets, shingle_rows) must give the same sets and carry
    their `keep` columns through."""
    from pyspark.sql import functions as F

    from geoparquet_python_spark.functions.text import (
        shingle_rows,
        shingle_sets,
        shingles,
        tokens,
    )

    def indexed(name, k):
        parts = ", ".join(f"{name}[i + {j}]" for j in range(k))
        return F.expr(
            f"array_distinct(filter(transform({name}, (x, i) -> "
            f"CASE WHEN i <= size({name}) - {k} "
            f"THEN concat_ws(' ', {parts}) END), s -> s IS NOT NULL))"
        )

    rows = [
        ("a b c d e f",),
        ("a b",),
        ("a b c",),
        ("x",),
        ("a a a a a",),
        ("w1 w2 w3 w4 w5 w6 w7 w1 w2 w3",),
    ]
    df = spark.createDataFrame(rows, "text string").select(
        tokens("text").alias("toks")
    )
    for k in (2, 3, 5):
        bad = (
            df.select(
                (
                    F.array_sort(shingles("toks", k))
                    == F.array_sort(indexed("toks", k))
                ).alias("eq")
            )
            .where(~F.col("eq"))
            .count()
        )
        assert bad == 0, f"shingle mismatch at k={k}"

    docs = spark.createDataFrame(
        [(i, t, f"tag{i}") for i, (t,) in enumerate(rows)],
        "doc_id long, text string, tag string",
    )
    for k in (3, 5):
        want = {
            r.doc_id: sorted(r.sh)
            for r in docs.select("doc_id", tokens("text").alias("toks"))
            .select("doc_id", indexed("toks", k).alias("sh"))
            .collect()
        }
        sets = shingle_sets(docs, k, "tag").collect()
        assert [list(r.asDict()) for r in sets[:1]] == [["doc_id", "tag", "sh"]]
        assert {r.doc_id: sorted(r.sh) for r in sets} == want, f"sets at k={k}"
        assert all(r.tag == f"tag{r.doc_id}" for r in sets)

        got_rows = shingle_rows(docs, k, "tag").collect()
        assert [list(r.asDict()) for r in got_rows[:1]] == [["doc_id", "tag", "s"]]
        per_doc: dict = {}
        for r in got_rows:
            assert r.tag == f"tag{r.doc_id}"
            per_doc.setdefault(r.doc_id, []).append(r.s)
        # one row per distinct shingle; a doc with none emits no row
        assert {d: sorted(v) for d, v in per_doc.items()} == {
            d: v for d, v in want.items() if v
        }, f"rows at k={k}"


def test_spread_passes_streams_through(spark, sf_dir_small):
    """A stream has no input split to probe: spread() hands it back
    unchanged, and the shingle helpers build on it like on a batch."""
    from geoparquet_python_spark.functions.exact import spread
    from geoparquet_python_spark.functions.text import shingle_rows, shingle_sets
    from geoparquet_python_spark.streaming.source import read_documents_stream

    stream = read_documents_stream(spark, sf_dir_small)
    assert stream.isStreaming
    assert spread(stream) is stream
    assert shingle_sets(stream).isStreaming
    assert shingle_rows(stream, 3, "source").columns == ["doc_id", "source", "s"]


def test_cluster_clip_invariants(spark, sf_dir):
    """ClusterClip structural guarantees: per cell, kept <= quota,
    kept + clipped == members, and only over-quota cells clip."""
    rows = registry.QUERIES["q_cluster_clip_sample"](spark, sf_dir).collect()
    assert rows, "no cells"
    for r in rows:
        assert r["n_kept"] <= r["quota"]
        assert r["n_kept"] + r["n_clipped"] == r["n_members"]
        if r["n_members"] <= r["quota"]:
            assert r["n_clipped"] == 0
        else:
            assert r["n_kept"] == r["quota"]


def test_rag_chunk_coverage(spark, sf_dir):
    """Sliding-window chunk accounting: every corpus token is covered
    at least once (chunk tokens >= corpus tokens), the overlap tax is
    non-negative, and there is at least one chunk per document."""
    rows = registry.QUERIES["q_rag_window_chunks"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_chunk_tokens"] >= r["n_corpus_tokens"]
        assert r["overlap_ppm"] >= 0
        assert r["n_chunks"] >= r["n_docs"]
        assert r["n_distinct_chunks"] <= r["n_chunks"]


def test_metric_queries_bounded(spark, sf_dir):
    """Range invariants for the round-8 exact-metric queries: KS and
    nDCG are ppm fractions in [0, 1e6]; AUC in [0, 1e6]; epoch plan
    never allocates effective tokens past the cap or the allocation."""
    ks = registry.QUERIES["q_ks_length_drift"](spark, sf_dir).collect()[0]
    assert 0 <= ks["ks_ppm"] <= 1_000_000

    auc = registry.QUERIES["q_mannwhitney_auc_contam"](spark, sf_dir).collect()[0]
    if auc["auc_ppm"] is not None:
        assert 0 <= auc["auc_ppm"] <= 1_000_000

    for r in registry.QUERIES["q_bm25_ndcg_audit"](spark, sf_dir).collect():
        if r["ndcg_ppm"] is not None:
            assert 0 <= r["ndcg_ppm"] <= 1_000_000
        assert r["dcg_fp"] >= 0 and r["idcg_fp"] >= 0

    for r in registry.QUERIES["q_epoch_repeat_plan"](spark, sf_dir).collect():
        assert r["effective_tokens"] <= r["alloc_tokens"]
        assert r["epochs_micro"] <= 4_000_000
        assert r["shortfall_tokens"] >= 0
        if r["epoch_capped"]:
            assert r["epochs_micro"] == 4_000_000


def test_dedup_layer_agreement_consistency(spark, sf_dir):
    """n_both can exceed neither side; the pair-set Jaccard is a ppm
    fraction consistent with the three counts."""
    r = registry.QUERIES["q_dedup_layer_agreement"](spark, sf_dir).collect()[0]
    assert r["n_both"] <= min(r["n_jaccard"], r["n_simhash"])
    union = max(r["n_jaccard"] + r["n_simhash"] - r["n_both"], 1)
    assert r["pair_jaccard_ppm"] == r["n_both"] * 1_000_000 // union


def test_semdedup_two_level_subset_of_single_level(spark, sf_dir):
    """Structural containment of the two-level gear (r9, VERDICT r8
    item 6): a vector dropped under the composite (cell, fine) key has
    a tau-mate with a lower id in the SAME coarse cell a fortiori, so
    the two-level drop set must be a subset of the single-level one —
    the recall trade only ever SHRINKS the drop list, never invents
    drops. Also: every reported cosine must clear tau, and dup_of must
    be a lower id."""
    two = registry.QUERIES["q_semdedup_two_level"](spark, sf_dir).collect()
    one = registry.QUERIES["q_semdedup_dropped"](spark, sf_dir).collect()
    dropped_two = {r["vec_id"] for r in two}
    dropped_one = {r["vec_id"] for r in one}
    assert dropped_two <= dropped_one, (
        f"two-level invented drops: {sorted(dropped_two - dropped_one)[:5]}"
    )
    assert len(two) > 0, "two-level found nothing at test scale"
    for r in two:
        assert r["dup_of"] < r["vec_id"]
        assert r["cos_micro"] >= 350_000  # tau = 0.35 in micro-units


def test_msprt_matches_numpy_mixture_lr(spark, sf_dir_small):
    """log_lambda / always_valid_p must equal the Johari et al.
    normal-mixture likelihood ratio recomputed in numpy from the
    Welch readout's own moments (which the oracle gate proves exact),
    and the p-value must be valid (in (0, 1])."""
    import math

    r = registry.QUERIES["q_ab_welch_readout"](spark, sf_dir_small).collect()[0]
    m = registry.QUERIES["q_sequential_msprt_readout"](
        spark, sf_dir_small
    ).collect()[0]
    assert (m.n0, m.n1) == (r.n0, r.n1)
    assert abs(m.effect - (r.mean1 - r.mean0)) < 1e-9
    # Reconstruct V from welch_t: V = (effect / t)^2.
    vhat = (r.effect / r.welch_t) ** 2
    assert abs(m.vhat - vhat) < 1e-6 * max(1.0, vhat)
    tau2 = 2500.0
    lnl = 0.5 * math.log(m.vhat / (m.vhat + tau2)) + (
        m.effect * m.effect * tau2
    ) / (2.0 * m.vhat * (m.vhat + tau2))
    assert abs(m.log_lambda - lnl) < 2e-6
    p = min(1.0, math.exp(-round(lnl, 6)))
    assert abs(m.always_valid_p - p) < 2e-6
    assert 0.0 < m.always_valid_p <= 1.0
    assert m.reject_5pct == (m.always_valid_p <= 0.05)


def test_sig_bitcount_kernel_matches_sql_aggregate(spark, sf_dir_small):
    """The numpy mapInArrow bit-count/pack kernel behind the one SimHash
    builder must be BIT-IDENTICAL to the SQL aggregate it replaced —
    per-bit SUM((h >> b) & 1) counts packed by the exact integer
    majority rule (bit set iff 2·count > n_words) — at 60, 120 and 240
    bits. This is the only copy of that aggregate."""
    from pyspark.sql import functions as F

    from geoparquet_python_spark.functions.text import md5_hi, md5_long, tokens
    from geoparquet_python_spark.io import load_table
    from geoparquet_python_spark.operators.dedup import (
        _SIMHASH_WORDS,
        _W240_SALT,
        _W240_WORDS,
        _WIDE_WORDS,
        _simhash_signatures,
    )

    d = load_table(spark, sf_dir_small, "documents")
    words = d.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("w")
    )
    w = F.col("w")
    w2 = F.concat(w, F.lit(_W240_SALT))
    cases = [
        (_SIMHASH_WORDS, [("simhash", md5_long(w))]),
        (_WIDE_WORDS, [("sim_lo", md5_long(w)), ("sim_hi", md5_hi(w))]),
        (
            _W240_WORDS,
            [
                ("s1lo", md5_long(w)),
                ("s1hi", md5_hi(w)),
                ("s2lo", md5_long(w2)),
                ("s2hi", md5_hi(w2)),
            ],
        ),
    ]
    for spec, cols in cases:
        hashed = words.select(
            "doc_id", *[e.alias(f"h_{name}") for name, e in cols]
        )
        hashed.createOrReplaceTempView("__t_sig_kernel_ref")
        sums = ", ".join(
            f"SUM(((h_{name} >> {b}) & 1)) AS c_{name}_{b}"
            for name, _ in cols
            for b in range(60)
        )
        packs = ", ".join(
            "CAST("
            + " + ".join(
                f"CASE WHEN c_{name}_{b} * 2 > nw THEN {1 << b}L ELSE 0L END"
                for b in range(60)
            )
            + f" AS BIGINT) AS {name}"
            for name, _ in cols
        )
        ref = spark.sql(
            f"SELECT doc_id, {packs} FROM (SELECT doc_id, COUNT(1) AS nw, "
            f"{sums} FROM __t_sig_kernel_ref GROUP BY doc_id)"
        )
        got = _simhash_signatures(spark, sf_dir_small, spec)
        assert got.exceptAll(ref).count() == 0
        assert ref.exceptAll(got).count() == 0


def _cell_knn_edges_reference(spark, sf_dir, k):
    """The JVM form the per-cell kNN kernel replaced (cell self-join +
    interpreted dot_scaled + row_number top-k), uncached: the
    equivalence reference for the kernel's pin test below."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from geoparquet_python_spark.functions.vector import (
        cosine_from_scaled,
        dot_scaled,
        norm2_scaled,
    )
    from geoparquet_python_spark.operators.similarity import _cell_knn_base

    base = _cell_knn_base(spark, sf_dir).withColumn(
        "n2", norm2_scaled("embedding")
    )
    a = base.select(
        F.col("vec_id").alias("qid"),
        F.col("cell").alias("q_cell"),
        F.col("embedding").alias("q_emb"),
        F.col("n2").alias("q_n2"),
    )
    b = base.select(
        F.col("vec_id").alias("cid"),
        F.col("cell").alias("c_cell"),
        F.col("embedding").alias("c_emb"),
        F.col("n2").alias("c_n2"),
    )
    pairs = a.join(
        b, (F.col("q_cell") == F.col("c_cell")) & (F.col("qid") != F.col("cid"))
    )
    cos = cosine_from_scaled(
        dot_scaled("q_emb", "c_emb"), F.col("q_n2"), F.col("c_n2")
    )
    wk = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), F.col("cid"))
    return (
        pairs.select("qid", "cid", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("qid", "cid")
    )


def test_cell_knn_kernel_matches_jvm_form(spark, sf_dir_small):
    """r13 optimization guard: the vectorized per-cell kNN kernel
    (numpy fixed-point cosine + stable top-k) must produce the exact
    edge set of the JVM form it replaced (cell self-join + interpreted
    dot_scaled + row_number over (cosine DESC, cid)) — for multiple k,
    including k larger than the smallest cell (rank truncation at
    m−1)."""
    from geoparquet_python_spark.operators.similarity import (
        _cell_knn_edges,
        _KNN_EDGE_CACHE,
    )

    for k in (1, 4, 400):
        _KNN_EDGE_CACHE.clear()
        new = _cell_knn_edges(spark, sf_dir_small, k)
        ref = _cell_knn_edges_reference(spark, sf_dir_small, k)
        assert new.exceptAll(ref).count() == 0
        assert ref.exceptAll(new).count() == 0
    _KNN_EDGE_CACHE.clear()


def test_star_contraction_round_set_identity(spark):
    """r13 optimization guard: one contraction round WITHOUT the
    inter-step dedup must produce the identical edge SET as the
    original large-star → canon → small-star → canon round (both star
    steps are duplicate-insensitive in their aggregates and the final
    canon collapses duplicated join outputs), and the full component
    labelling must be unchanged on a graph with chains, a clique and
    singleton-adjacent edges."""
    from pyspark.sql import functions as F

    from geoparquet_python_spark.operators.dedup import (
        _canon_edges,
        _large_star,
        _small_star,
        star_contraction_components,
    )

    edges = [
        # chain 1-2-3-4-5
        (1, 2), (2, 3), (3, 4), (4, 5),
        # clique 10,11,12,13 (with duplicate input edges)
        (10, 11), (10, 12), (10, 13), (11, 12), (11, 13), (12, 13),
        (12, 13), (11, 10),
        # pair + star
        (20, 21), (30, 31), (30, 32), (30, 33),
    ]
    e = _canon_edges(
        spark.createDataFrame(edges, "a bigint, b bigint")
    ).localCheckpoint()
    # one round, old shape (inter-step canon)
    old = _canon_edges(_small_star(_canon_edges(_large_star(e))))
    # one round, new shape (rename only)
    ls = _large_star(e).select(F.col("b").alias("lo"), F.col("a").alias("hi"))
    new = _canon_edges(_small_star(ls))
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    # full labelling: every node labels to its component minimum
    labels = {
        (r["node"], r["label"])
        for r in star_contraction_components(
            spark.createDataFrame(edges, "a bigint, b bigint")
        ).collect()
    }
    expect = {
        (1, 1), (2, 1), (3, 1), (4, 1), (5, 1),
        (10, 10), (11, 10), (12, 10), (13, 10),
        (20, 20), (21, 20),
        (30, 30), (31, 30), (32, 30), (33, 30),
    }
    assert labels == expect


def test_minhash_band_kernel_matches_hof_form(spark, sf_dir_small):
    """r13 optimization guard: the Arrow minhash banding kernel must
    emit the exact (doc_id, band, sig) rows of the interpreted-HOF
    construction it replaced — 32 array_min(zip_with) double-hashing
    slots + 16 concat_ws band strings — including the empty-shingle
    row behaviour (sig '' for every band)."""
    from pyspark.sql import functions as F

    from geoparquet_python_spark.functions.text import shingles, tokens
    from geoparquet_python_spark.io import load_table
    from geoparquet_python_spark.operators.dedup import (
        _BAND_R,
        _N_BANDS,
        _N_HASHES,
        minhash_bands,
    )

    d = load_table(spark, sf_dir_small, "documents")
    docs = d.select("doc_id", tokens("text").alias("toks")).select(
        "doc_id", shingles("toks", k=3).alias("sh")
    )
    # one synthetic empty-shingle doc exercises the '' band rows
    empty = spark.createDataFrame(
        [(10**9, [])], "doc_id bigint, sh array<string>"
    )
    docs = docs.unionByName(empty)

    got = minhash_bands(docs)

    hs = F.transform("sh", lambda s: F.md5(s))
    hashed = docs.select("doc_id", "sh", hs.alias("hs"))
    h1 = F.transform(
        "hs", lambda h: F.conv(F.substring(h, 1, 15), 16, 10).cast("long")
    )
    h2 = F.transform(
        "hs", lambda h: F.conv(F.substring(h, 16, 14), 16, 10).cast("long")
    )
    hashed = hashed.select("doc_id", "sh", h1.alias("h1"), h2.alias("h2"))

    def _slot(j):
        return lambda a, b: a + F.lit(j).cast("long") * b

    sig_cols = [
        F.array_min(F.zip_with("h1", "h2", _slot(j))).alias(f"sig_{j}")
        for j in range(_N_HASHES)
    ]
    signed = hashed.select("doc_id", "sh", *sig_cols)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"sig_{b * _BAND_R + r}").cast("string")
                        for r in range(_BAND_R)
                    ],
                ).alias("sig"),
            )
            for b in range(_N_BANDS)
        ]
    )
    ref = signed.select("doc_id", F.explode(band_structs).alias("bs")).select(
        "doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig")
    )
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0


def test_build_concurrently_matches_sequential(spark, sf_dir_small, caplog):
    """r13 optimization guard (guide §2.6): q_hybrid_rrf_topk builds
    its two independent ranker legs from driver threads so their
    materialize() jobs overlap. The threaded construction must yield
    the exact result of sequential construction — and thunk errors
    must propagate, not vanish with the thread: the lowest-index
    failure is raised and the others are logged."""
    import logging
    import time

    import pytest
    from pyspark.sql import functions as F

    from geoparquet_python_spark.functions.exact import build_concurrently
    from geoparquet_python_spark.operators import retrieval as R

    seq_a = (
        R._bm25_ranked(spark, sf_dir_small)
        .where(F.col("rank") <= R._RRF_DEPTH)
        .select("query_id", "doc_id", "rank")
    )
    seq_b = (
        R._jaccard_ranked(spark, sf_dir_small)
        .where(F.col("rank") <= R._RRF_DEPTH)
        .select("query_id", "doc_id", "rank")
    )
    thr_a, thr_b = build_concurrently(
        lambda: R._bm25_ranked(spark, sf_dir_small)
        .where(F.col("rank") <= R._RRF_DEPTH)
        .select("query_id", "doc_id", "rank"),
        lambda: R._jaccard_ranked(spark, sf_dir_small)
        .where(F.col("rank") <= R._RRF_DEPTH)
        .select("query_id", "doc_id", "rank"),
    )
    for got, ref in ((thr_a, seq_a), (thr_b, seq_b)):
        assert got.exceptAll(ref).count() == 0
        assert ref.exceptAll(got).count() == 0
    # results come back in thunk order, and exceptions propagate
    one, two = build_concurrently(lambda: 1, lambda: 2)
    assert (one, two) == (1, 2)
    with pytest.raises(ValueError, match="leg boom"):
        build_concurrently(
            lambda: 1, lambda: (_ for _ in ()).throw(ValueError("leg boom"))
        )

    # two legs fail, leg 0 last: leg 0's error is raised on every run
    # (ADVICE r13 #1) and leg 2's is logged, not dropped
    def fail(msg, delay=0.0):
        def thunk():
            time.sleep(delay)
            raise ValueError(msg)

        return thunk

    for _ in range(3):
        caplog.clear()
        with caplog.at_level(logging.ERROR, "geoparquet_python_spark"):
            with pytest.raises(ValueError, match="leg zero"):
                build_concurrently(
                    fail("leg zero", delay=0.2), lambda: 1, fail("leg two")
                )
        logged = [r for r in caplog.records if r.exc_info]
        assert len(logged) == 1
        assert str(logged[0].exc_info[1]) == "leg two"


def _kernel_case(name):
    """(kernel, zero-row batch, data batch) for one Arrow kernel."""
    import numpy as np
    import pyarrow as pa

    if name == "sig_bitcount":
        from geoparquet_python_spark.operators.dedup import (
            _W240_COLS,
            _sig_bitcount_kernel,
        )

        hash_cols = tuple(f"{c}_h" for c in _W240_COLS)
        kernel = _sig_bitcount_kernel(hash_cols, _W240_COLS)
        schema = pa.schema(
            [("doc_id", pa.int64())] + [(c, pa.int64()) for c in hash_cols]
        )
        data = {"doc_id": [1, 1, 2]}
        for c in hash_cols:
            data[c] = [3, 5, 7]
    elif name.startswith("lloyd_m"):
        from geoparquet_python_spark.operators.kmeans import _lloyd_stats_kernel

        m = int(name[len("lloyd_m") :])
        x = np.random.default_rng(3).integers(-1000, 1000, size=(20, 16))
        subd = 16 // m
        kernel = _lloyd_stats_kernel(
            [x[:4, j * subd : (j + 1) * subd].tolist() for j in range(m)]
        )
        schema = pa.schema([("xfix", pa.list_(pa.int64()))])
        data = {"xfix": x.tolist()}
    elif name == "minhash_band":
        from geoparquet_python_spark.operators.dedup import _minhash_band_kernel

        kernel = _minhash_band_kernel()
        schema = pa.schema(
            [
                ("doc_id", pa.int64()),
                ("h1", pa.list_(pa.int64())),
                ("h2", pa.list_(pa.int64())),
            ]
        )
        data = {
            "doc_id": [1, 2, 3],
            "h1": [[11, 12, 13], [], [14]],
            "h2": [[21, 22, 23], [], [24]],
        }
    elif name == "cell_knn":
        from geoparquet_python_spark.operators.similarity import _cell_knn_kernel

        kernel = _cell_knn_kernel(2)
        schema = pa.schema(
            [
                ("vec_id", pa.int64()),
                ("cell", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
            ]
        )
        emb = np.random.default_rng(5).normal(size=(7, 4)).astype(np.float32)
        data = {
            "vec_id": [5, 3, 0, 6, 1, 4, 2],
            "cell": [1] * 7,
            "embedding": emb.tolist(),
        }
    else:
        from geoparquet_python_spark.functions.vector import fixed_dot
        from geoparquet_python_spark.operators.semdedup import _tau_pairs_fn

        kernel = _tau_pairs_fn(-1.0, fine_bands=False)
        schema = pa.schema(
            [
                ("vec_id", pa.int64()),
                ("embedding", pa.list_(pa.float32())),
                ("n2", pa.int64()),
                ("cell", pa.int64()),
            ]
        )
        emb = np.random.default_rng(6).normal(size=(7, 4)).astype(np.float32)
        e64 = emb.astype(np.float64)
        data = {
            "vec_id": [5, 3, 0, 6, 1, 4, 2],
            "embedding": emb.tolist(),
            "n2": fixed_dot(e64, e64).tolist(),
            "cell": [1] * 7,
        }
    empty = pa.RecordBatch.from_pydict(
        {n: [] for n in schema.names}, schema=schema
    )
    return kernel, empty, pa.RecordBatch.from_pydict(data, schema=schema)


# applyInArrow functions: called once per cell with the cell's Table
_PER_CELL_KERNELS = ("cell_knn", "tau_pairs")


@pytest.mark.parametrize(
    "name",
    ["sig_bitcount", "lloyd_m1", "lloyd_m8", "minhash_band"]
    + list(_PER_CELL_KERNELS),
)
def test_kernel_tolerates_empty_batches(name):
    """ADVICE r12: MapInBatch paths may hand a kernel a zero-row Arrow
    batch under future Spark versions; it must skip it instead of
    crashing (np.r_[True, ...] on an empty array fabricates a start
    index 0 and ds[starts] raises IndexError). For every mapInArrow
    kernel: all-empty input yields no batch, and empty batches
    interleaved with data give the output of the data alone. For every
    per-cell applyInArrow function: an empty group and a one-row cell
    give no rows, and empty chunks around the cell's rows change
    nothing. Pure-Python: the kernel closures run directly, no Spark
    session."""
    import pyarrow as pa

    kernel, empty, rb = _kernel_case(name)
    if name in _PER_CELL_KERNELS:
        table = pa.Table.from_batches
        assert kernel(table([empty])).num_rows == 0
        assert kernel(table([rb.slice(0, 1)])).num_rows == 0
        got = kernel(table([empty, rb, empty]))
        assert got.num_rows >= 1
        assert got.equals(kernel(table([rb])))
        return
    assert list(kernel(iter([empty]))) == []
    assert list(kernel(iter([empty, empty]))) == []
    with_empties = list(kernel(iter([empty, rb, empty])))
    rows_only = list(kernel(iter([rb])))
    assert len(with_empties) == len(rows_only) >= 1
    for got, want in zip(with_empties, rows_only):
        assert got.equals(want)


@pytest.mark.parametrize("m", [1, 8])
def test_lloyd_stats_kernel_matches_brute_force(m):
    """The shared Lloyd kernel's (m, cid, d, sv, n) partials equal a
    brute-force numpy per-(m, cid, d) sum and count: nearest centroid
    per subspace by exact int64 squared distance (first minimum), over
    a random int64 matrix fed as uneven, offset-carrying Arrow slices.
    Spark-free."""
    import numpy as np
    import pyarrow as pa

    from geoparquet_python_spark.operators.kmeans import _lloyd_stats_kernel

    rng = np.random.default_rng(11)
    n_rows, dim, k = 101, 64, 16
    subd = dim // m
    x = rng.integers(-(1 << 20), 1 << 20, size=(n_rows, dim), dtype=np.int64)
    cents = rng.integers(-(1 << 20), 1 << 20, size=(m, k, subd), dtype=np.int64)

    sv = np.zeros((m, k, subd), dtype=np.int64)
    cnt = np.zeros((m, k), dtype=np.int64)
    for j in range(m):
        sub = x[:, j * subd : (j + 1) * subd]
        dist = ((sub[:, None, :] - cents[j][None, :, :]) ** 2).sum(axis=2)
        for row, cid in enumerate(np.argmin(dist, axis=1)):
            sv[j, cid] += sub[row]
            cnt[j, cid] += 1
    want = sorted(
        (j, c, d, int(sv[j, c, d]), int(cnt[j, c]))
        for j in range(m)
        for c in range(k)
        if cnt[j, c]
        for d in range(subd)
    )

    whole = pa.RecordBatch.from_pydict(
        {"xfix": x.tolist()}, schema=pa.schema([("xfix", pa.list_(pa.int64()))])
    )
    cuts = [0, 1, 7, 30, 31, n_rows]
    batches = [whole.slice(a, b - a) for a, b in zip(cuts[:-1], cuts[1:])]
    out = list(_lloyd_stats_kernel(cents.tolist())(iter(batches)))
    assert len(out) == 1
    cols = out[0].to_pydict()
    got = sorted(zip(cols["m"], cols["cid"], cols["d"], cols["sv"], cols["n"]))
    assert got == want