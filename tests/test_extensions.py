"""Behavioral tests for the training-data-pipeline extensions: dedup
recall, ANN vs brute-force agreement, multimodal plumbing, text heuristics.
The catalog parity suite proves value-exactness vs DuckDB; these prove the
operators do the *right thing* on constructed cases.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from logvision_spark.operators.dedup import (
    exact_dedup,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash,
)
from logvision_spark.operators.multimodal import (
    decode_images,
    sample_frames,
    synth_media,
)
from logvision_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    srp_bucket_topk,
)
from logvision_spark.operators.text import lang_id
from logvision_spark.sources.readers import load_table

BASE = "the quick brown fox jumps over the lazy dog again and again today"
NEAR = "the quick brown fox jumps over the lazy cat again and again today"
OTHER = "completely different content with no overlap whatsoever in words here"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(0, BASE), (1, BASE), (2, NEAR), (3, OTHER)]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_groups_identical(spark, docs):
    out = {r["keep_id"]: r["dup_cnt"] for r in exact_dedup(docs).collect()}
    assert out[0] == 2  # docs 0 and 1 identical
    assert out[2] == 1 and out[3] == 1


def test_minhash_candidates_find_near_dups(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        # 8 bands × 1 row: collision prob ≈ 1-(1-J)^8 — high recall for J≈0.45
        for r in minhash_candidate_pairs(docs, num_hashes=8, bands=8).collect()
    }
    assert (0, 1) in pairs  # identical docs always collide
    assert (0, 2) in pairs or (1, 2) in pairs  # 1-word-off doc should band-collide
    assert (0, 3) not in pairs and (2, 3) not in pairs  # unrelated doc doesn't


def test_ngram_jaccard_exact_values(spark, docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    assert pairs[(0, 1)] == 1.0
    assert 0.5 < pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs


def test_near_dup_drop_list_end_to_end(spark, docs):
    from logvision_spark.operators.dedup import near_dup_drop_list

    drops = near_dup_drop_list(
        docs, threshold=0.8, num_hashes=8, bands=8, fast=True
    )
    dropped = {r["doc_id"] for r in drops.collect()}
    assert dropped == {1}  # doc 1 is an exact dup of doc 0; 2/3 survive
    kept = docs.join(drops, on="doc_id", how="left_anti")
    assert {r["doc_id"] for r in kept.collect()} == {0, 2, 3}


def test_near_dup_drop_list_shared_shingles_identical(spark, docs):
    """A caller-persisted (id, shingle) table shared between the
    signature and verify passes must not change the drop list — the
    lifecycle-managed fast path for repeated dedup over one corpus."""
    from pyspark import StorageLevel

    from logvision_spark.operators.dedup import (
        exploded_shingles,
        near_dup_drop_list,
    )

    sh = exploded_shingles(docs).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        base = {r["doc_id"] for r in near_dup_drop_list(docs).collect()}
        shared = {
            r["doc_id"]
            for r in near_dup_drop_list(docs, shingles=sh).collect()
        }
        assert shared == base
    finally:
        sh.unpersist()


def test_connected_components_chain_and_singletons(spark):
    """A chain a~b~c must collapse to ONE cluster labeled min(id) (the
    case the greedy drop list over-drops); untouched docs stay
    singletons labeling themselves."""
    from logvision_spark.operators.dedup import connected_components

    ids = spark.createDataFrame([(i,) for i in range(7)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], ["doc_a", "doc_b"]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(pairs, ids).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 4, 5: 1, 6: 2}

    # force the distributed large-star/small-star loop (driver
    # union-find disabled): identical labeling from the iterative path
    dist = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components(
            pairs, ids, driver_finish_max_edges=0
        ).collect()
    }
    assert dist == got


@pytest.mark.parametrize("max_edges, star_calls", [(3, 0), (2, 1)])
def test_connected_components_driver_finish_boundary(
    spark, monkeypatch, max_edges, star_calls
):
    """The driver-finish threshold at its exact boundary: a 3-edge graph
    finishes on the driver at driver_finish_max_edges=3 and goes to the
    distributed star loop at 2 — the limit(max+1) probe's off-by-one.
    Both executed plans look alike (a scan of the created rows plus a
    BroadcastHashJoin), so the branch is pinned by counting calls into
    the star loop."""
    from logvision_spark.operators import dedup

    calls = []
    star = dedup._star_labels

    def counting_star(*args, **kwargs):
        calls.append(1)
        return star(*args, **kwargs)

    monkeypatch.setattr(dedup, "_star_labels", counting_star)
    ids = spark.createDataFrame([(i,) for i in range(7)], ["doc_id"])
    pairs = spark.createDataFrame(
        [(1, 3), (3, 5), (2, 6)], ["doc_a", "doc_b"]
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.connected_components(
            pairs, ids, driver_finish_max_edges=max_edges
        ).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 1, 4: 4, 5: 1, 6: 2}
    assert len(calls) == star_calls


def test_word_composed_shingle_hashes_match_string_hashes(spark):
    """The word-composed portable shingle hash must be bit-identical to
    poly_hash over the concat_ws(' ') shingle strings on every edge
    shape: doubled separators (empty tokens), short/empty docs,
    duplicate shingles, punctuation."""
    from logvision_spark.operators.dedup import (
        poly_hash,
        shingle_poly_hashes_from_tokens,
    )

    rows = [
        ("a b c d e",), ("x y z",), ("one two",), ("",), ("a  b c d",),
        ("Hello, World! foo bar baz qux",), ("s",), ("aa aa aa aa",),
    ]
    df = spark.createDataFrame(rows, ["text"])
    toks = F.split(F.col("text"), " ")
    composed = [
        r[0]
        for r in df.select(
            shingle_poly_hashes_from_tokens(toks, 3).alias("hl")
        ).collect()
    ]
    ref_shingles = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
                F.element_at(toks, i + 3),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ref = [
        r[0]
        for r in df.select(
            F.transform(ref_shingles, poly_hash).alias("hl")
        ).collect()
    ]
    assert composed == ref


def test_dedup_handles_short_and_empty_docs(spark):
    """Docs with < n tokens must not crash the shingle expression (Spark 4
    ANSI: a descending F.sequence would hit element_at index 0) — they
    yield empty shingle sets / NULL signatures and never pair."""
    from logvision_spark.operators.dedup import (
        minhash_signature,
        minhash_signatures_agg,
        near_dup_drop_list,
    )

    rows = [(0, BASE), (1, BASE), (2, "tiny doc"), (3, "x"), (4, "")]
    short = spark.createDataFrame(rows, ["doc_id", "text"])

    sig = short.select("doc_id", *minhash_signature(F.col("text"), num_hashes=4))
    got = {r["doc_id"]: r["h0"] for r in sig.collect()}
    assert got[0] == got[1] and got[0] is not None
    assert got[2] is None and got[3] is None and got[4] is None  # < 3 tokens

    # short docs now EMIT a row with NULL signatures (explode_outer),
    # matching both the Column form above and the DuckDB oracle's
    # list_min-over-empty = NULL — plain explode used to drop them,
    # a latent rows_match break on any fixture with a <3-token doc
    agg = {r["doc_id"]: r["h0"] for r in minhash_signatures_agg(short, num_hashes=4).collect()}
    assert set(agg) == {0, 1, 2, 3, 4}
    assert agg[0] is not None and agg[2] is None and agg[4] is None

    for fast in (False, True):
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_candidate_pairs(
                short, num_hashes=8, bands=8, fast=fast
            ).collect()
        }
        assert pairs == {(0, 1)}

    jac = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(short, threshold=0.0).collect()
    }
    assert jac == {(0, 1)}

    drops = {r["doc_id"] for r in near_dup_drop_list(short, fast=True).collect()}
    assert drops == {1}

    fp = short.select("doc_id", simhash(F.col("text"), n=3).alias("fp")).collect()
    assert len(fp) == 5  # no ANSI crash on short docs


def test_hot_shingle_cap_prevents_candidate_explosion(spark):
    """A shingle shared by every doc must not pair everything with
    everything once its document frequency exceeds max_doc_freq."""
    hot = "common boiler plate"  # 3 tokens → one ubiquitous shingle
    rows = [(i, f"{hot} unique{i} marker{i} tail{i}") for i in range(20)]
    rows += [(100, "alpha beta gamma delta epsilon"), (101, "alpha beta gamma delta epsilon")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = ngram_jaccard_pairs(df, threshold=0.0, max_doc_freq=None)
    assert uncapped.count() >= 20 * 19 // 2  # hot shingle pairs all 20

    capped = ngram_jaccard_pairs(df, threshold=0.0, max_doc_freq=10)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in capped.collect()}
    assert got == {(100, 101): 1.0}  # only the true dup pair survives

    # cap above all frequencies → identical to uncapped (exactness guard)
    wide = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.0, max_doc_freq=1000).collect()
    }
    assert wide == {
        (r["doc_a"], r["doc_b"]): r["jaccard"] for r in uncapped.collect()
    }

    from logvision_spark.operators.dedup import near_dup_drop_list

    drops = {
        r["doc_id"]
        for r in near_dup_drop_list(df, threshold=0.8, max_doc_freq=10).collect()
    }
    assert drops == {101}


def test_minhash_bands_with_three_rows_per_band(spark, docs):
    """rows_per_band >= 3 packs bands as struct keys — the old positional
    v*P + h arithmetic overflowed LongType (ANSI error) at 3 rows."""
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_candidate_pairs(
            docs, num_hashes=12, bands=4, fast=True
        ).collect()
    }
    assert (0, 1) in pairs  # identical docs agree on every band
    assert (0, 3) not in pairs and (2, 3) not in pairs


def test_simhash_fingerprints(spark, docs):
    fp = {
        r["doc_id"]: r["fp"]
        for r in docs.select("doc_id", simhash(F.col("text")).alias("fp")).collect()
    }
    assert fp[0] == fp[1]  # identical text → identical fingerprint
    ham_near = bin(fp[0] ^ fp[2]).count("1")
    ham_far = bin(fp[0] ^ fp[3]).count("1")
    assert ham_near < ham_far  # near-dup closer in hamming space


def test_simhash_agg_matches_column_form(spark, docs):
    """The scale (explode+vote-agg) formulation must be bit-identical to
    the Column-level fold — including docs with < n tokens, which the
    outer-explode keeps as fingerprint 0 exactly like the Column form's
    empty-array fold."""
    from logvision_spark.operators.dedup import simhash_agg

    extra = docs.union(
        spark.createDataFrame([(90, ""), (91, "just two")], ["doc_id", "text"])
    )
    for n in (1, 3):
        col_form = {
            r["doc_id"]: r["fp"]
            for r in extra.select(
                "doc_id", simhash(F.col("text"), n=n).alias("fp")
            ).collect()
        }
        agg_form = {
            r["doc_id"]: r["simhash32"] for r in simhash_agg(extra, n=n).collect()
        }
        assert agg_form == col_form, f"n={n}"
    # docs 90/91 have < 3 tokens → no 3-shingles → fingerprint 0
    assert agg_form[90] == 0 and agg_form[91] == 0
    # fast path keeps the same doc coverage (no dropped short docs)
    fp_fast = {
        r["doc_id"]: r["simhash32"]
        for r in simhash_agg(extra, n=3, fast=True).collect()
    }
    assert set(fp_fast) == set(agg_form)
    assert fp_fast[90] == 0 and fp_fast[91] == 0


def test_srp_bucket_is_subset_of_bruteforce_order(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    data = emb.where(F.col("vec_id") != 0)
    exact = [r["vec_id"] for r in brute_force_topk(data, q, k=50).collect()]
    approx = srp_bucket_topk(data, q, dim=64, k=10, num_bits=4).collect()
    assert len(approx) > 0  # the query's own bucket is non-empty
    # every ANN hit must carry its exact cosine (same scoring path)
    exact_scores = {
        r["vec_id"]: r["cos_sim"] for r in brute_force_topk(data, q, k=10**6).collect()
    }
    for r in approx:
        assert exact_scores[r["vec_id"]] == r["cos_sim"]
    # recall sanity: bucket restriction should still surface some true top-50
    assert any(r["vec_id"] in exact for r in approx)
    # a cap no bucket reaches is a no-op on the probe path too
    capped = srp_bucket_topk(
        data, q, dim=64, k=10, num_bits=4, max_bucket=data.count()
    ).collect()
    assert {(r["vec_id"], r["cos_sim"]) for r in capped} == {
        (r["vec_id"], r["cos_sim"]) for r in approx
    }


def test_srp_multitable_recall_vs_bruteforce(spark, sf_dir):
    """Multi-table SRP must reach ≥0.9 average top-10 recall vs brute
    force (deterministic: fixed seed, fixed query set). Single-table
    recall at these low fixture cosines is ~0.1 — the tables are what
    buy recall; 4 bits × 24 tables predicts ~0.95 at cosine 0.3."""
    emb = load_table(spark, "embeddings", sf_dir)
    recalls = []
    for qid in (0, 7, 42, 99, 123):
        q = emb.where(F.col("vec_id") == qid).select(F.col("embedding").alias("qe"))
        data = emb.where(F.col("vec_id") != qid)
        exact = {r["vec_id"] for r in brute_force_topk(data, q, k=10).collect()}
        approx = {
            r["vec_id"]
            for r in srp_bucket_topk(
                data, q, dim=64, k=10, num_bits=4, num_tables=24
            ).collect()
        }
        recalls.append(len(exact & approx) / 10)
    assert min(recalls) >= 0.8 and sum(recalls) / len(recalls) >= 0.9, recalls


def test_ivf_topk_overlaps_bruteforce(spark, sf_dir):
    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    data = emb.where(F.col("vec_id") != 0)
    exact = [r["vec_id"] for r in brute_force_topk(data, q, k=10).collect()]
    approx = [r["vec_id"] for r in ivf_topk(data, q, k=10, n_cells=8, n_probe=4).collect()]
    overlap = len(set(exact) & set(approx))
    assert overlap >= 5, (exact, approx)  # probing half the cells → high recall


def test_ivf_topk_batch_full_probe_equals_bruteforce(spark, sf_dir):
    """Probing ALL cells makes batched IVF an exact scan: per query the
    result must equal brute force exactly (ids AND rounded scores) —
    pins assignment, probe selection, candidate join, and re-rank in
    one property. A second check at n_probe=4 keeps the approximate
    regime honest (recall ≥ 5/10 per query)."""
    from logvision_spark.operators.similarity import fit_ivf, ivf_topk_batch

    emb = load_table(spark, "embeddings", sf_dir)
    qs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    data = emb.where(F.col("vec_id") >= 3)
    model = fit_ivf(data, n_cells=8, seed=42)

    per_q_exact = {}
    for qid in range(3):
        q1 = qs.where(F.col("q_id") == qid).select("qe")
        per_q_exact[qid] = [
            (r["vec_id"], r["cos_sim"])
            for r in brute_force_topk(data, q1, k=10).collect()
        ]

    full = ivf_topk_batch(data, qs, k=10, n_cells=8, n_probe=8, model=model)
    got = {}
    for r in full.collect():
        got.setdefault(r["q_id"], []).append((r["vec_id"], r["cos_sim"]))
    for rows in got.values():  # collect order is arbitrary; rank order isn't
        rows.sort(key=lambda t: (-t[1], t[0]))
    assert got == per_q_exact

    approx = ivf_topk_batch(data, qs, k=10, n_cells=8, n_probe=4, model=model)
    hits = {}
    for r in approx.collect():
        hits.setdefault(r["q_id"], set()).add(r["vec_id"])
    for qid, exact_rows in per_q_exact.items():
        recall = len(hits[qid] & {v for v, _ in exact_rows})
        assert recall >= 5, (qid, recall)

    # stored-cell fast path: probing over a materialized assignment
    # column (assign_cells, the write-time production layout) must be
    # row-identical to the per-call transform at every probe width
    from logvision_spark.operators.similarity import assign_cells

    stored = assign_cells(data, model)
    for n_probe in (4, 8):
        a = ivf_topk_batch(
            stored, qs, k=10, n_cells=8, n_probe=n_probe, model=model, cell_col="cell"
        ).collect()
        b = ivf_topk_batch(
            data, qs, k=10, n_cells=8, n_probe=n_probe, model=model
        ).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b)), n_probe


def test_ivf_recall_table_equals_operator_join(spark, sf_dir):
    """The shared-scan recall harness (r19) must return EXACTLY the
    rows of the two-branch form it replaced: ivf_topk_batch's top-k
    equi-joined on (q_id, id, rounded score) with the brute-force
    top-k over the full base — across probe widths including
    full-probe (where both sides collapse to brute force) and a
    sparse probe (where the IVF side genuinely misses rows). This is
    what keeps the production operator the thing the catalog entry
    checks after the harness stopped invoking it per-branch."""
    from logvision_spark.operators.similarity import (
        cosine_cols,
        fit_ivf,
        ivf_recall_table,
        ivf_topk_batch,
    )
    from pyspark.sql import Window

    emb = load_table(spark, "embeddings", sf_dir)
    qs = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    data = emb.where(F.col("vec_id") >= 3)
    model = fit_ivf(data, n_cells=8, seed=42)

    w = Window.partitionBy("q_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    exact = (
        data.crossJoin(F.broadcast(qs))
        .select(
            "q_id",
            "vec_id",
            F.round(cosine_cols("embedding", "qe"), 6).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 10)
        .drop("rn")
    )
    for n_probe in (1, 2, 4, 8):
        ivf = ivf_topk_batch(
            data, qs, k=10, n_cells=8, n_probe=n_probe, model=model
        )
        old = ivf.join(exact, ["q_id", "vec_id", "cos_sim"]).collect()
        new = ivf_recall_table(
            data, qs, k=10, n_cells=8, n_probe=n_probe, model=model
        ).collect()
        assert sorted(map(tuple, old)) == sorted(map(tuple, new)), n_probe
    # full probe: the intersection IS the brute-force top-10 per query
    full = ivf_recall_table(
        data, qs, k=10, n_cells=8, n_probe=8, model=model
    ).collect()
    assert sorted(map(tuple, full)) == sorted(
        map(tuple, exact.collect())
    )


def test_ivf_batch_cell_col_requires_model(spark, sf_dir):
    """Stored cells with no quantizer must hard-fail: a silently refit
    KMeans has no centroid-id correspondence with the assignments."""
    import pytest

    from logvision_spark.operators.similarity import (
        assign_cells,
        fit_ivf,
        ivf_topk_batch,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    qs = emb.where(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    data = emb.where(F.col("vec_id") >= 2)
    stored = assign_cells(data, fit_ivf(data, n_cells=4, seed=42))
    with pytest.raises(ValueError, match="cell_col requires the model"):
        ivf_topk_batch(stored, qs, k=5, cell_col="cell", model=None)


def test_lsh_near_pairs_equal_exact_at_fixture_scale(spark, sf_dir):
    from logvision_spark.operators.similarity import (
        near_dup_pairs_cosine,
        near_dup_pairs_cosine_lsh,
    )

    emb = load_table(spark, "embeddings", sf_dir)
    exact = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in near_dup_pairs_cosine(emb, threshold=0.4).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in near_dup_pairs_cosine_lsh(emb, threshold=0.4).collect()
    }
    assert lsh == exact and len(exact) > 0

    # a hot-bucket cap no bucket reaches must be a no-op...
    n = emb.count()
    capped = {
        (r["id_a"], r["id_b"], r["cos_sim"])
        for r in near_dup_pairs_cosine_lsh(
            emb, threshold=0.4, max_bucket=n
        ).collect()
    }
    assert capped == exact
    # ...and cap=1 skips every pairable bucket in every table
    assert (
        near_dup_pairs_cosine_lsh(emb, threshold=0.4, max_bucket=1).count() == 0
    )


def test_ml_brp_lsh_neighbors(spark, sf_dir):
    from logvision_spark.operators.similarity import ml_brp_lsh_neighbors

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    nn = ml_brp_lsh_neighbors(emb.where(F.col("vec_id") != 0), q, k=5).collect()
    assert len(nn) == 5
    dists = [r["dist_euclidean"] for r in nn]
    assert dists == sorted(dists)  # nearest first


def test_ml_minhash_lsh_finds_dup_pair(spark, docs):
    from logvision_spark.operators.similarity import ml_minhash_lsh_pairs

    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard_dist"]
        for r in ml_minhash_lsh_pairs(docs, threshold=0.6).collect()
    }
    assert pairs.get((0, 1)) == 0.0  # identical docs at distance 0
    assert (0, 3) not in pairs  # unrelated doc beyond threshold


def test_multimodal_decode_plumbing(spark):
    media = synth_media(spark, n=30)
    out = decode_images(media.where(F.col("kind") == "image"))
    rows = out.collect()
    assert all(r["decode_ok"] for r in rows)
    assert all(r["width"] >= 16 and r["channels"] == 3 for r in rows)
    assert set(out.columns) == {"asset_id", "width", "height", "channels", "decode_ok"}


def test_multimodal_decode_real_codec_gate(spark):
    """use_fake=False is now the REAL zero-dependency BMP codec: random
    (non-BMP) payloads decode_ok=False instead of raising, while the
    pixel-level ops (features/resize) stay honestly gated on PIL."""
    from logvision_spark.operators.multimodal import (
        extract_features,
        resize_images,
    )

    media = synth_media(spark, n=3)
    rows = decode_images(media, use_fake=False).collect()
    assert len(rows) == 3
    assert all(not r["decode_ok"] and r["width"] is None for r in rows)
    # real resize handles BMP only: random payloads yield NULL rows
    rrows = resize_images(media, 4, 4, use_fake=False).collect()
    assert all(r["payload"] is None and r["width"] is None for r in rrows)
    with pytest.raises(NotImplementedError):
        extract_features(media, use_fake=False)


def test_feature_extraction_null_and_empty_payloads(spark):
    """The zero-copy Arrow path must keep mapInPandas-era semantics for
    degenerate payloads: null and b'' both map to the b'\\x00' histogram
    (unit vector on bin 0), and int32 asset ids are coerced to long."""
    from logvision_spark.operators.multimodal import extract_features

    media = spark.createDataFrame(
        [(0, b"ab"), (1, b""), (2, None), (3, b"\x00")],
        "asset_id int, payload binary",
    )
    rows = {r["asset_id"]: r["feature"] for r in extract_features(media, dim=8).collect()}
    assert len(rows) == 4
    e0 = [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    assert rows[1] == e0 and rows[2] == e0 and rows[3] == e0
    # non-degenerate: 'a'=97→bin 1, 'b'=98→bin 2 at dim=8, unit-normalized
    import math

    assert rows[0][1] == pytest.approx(1 / math.sqrt(2))
    assert rows[0][2] == pytest.approx(1 / math.sqrt(2))
    assert sum(1 for v in rows[0] if v != 0) == 2

    # resize on the same degenerate inputs: truncate-or-zero-pad to 2x2
    from logvision_spark.operators.multimodal import resize_images

    rz = {r["asset_id"]: r for r in resize_images(media, 2, 2).collect()}
    assert rz[0]["payload"] == b"ab\x00\x00"  # padded
    assert rz[1]["payload"] == b"\x00" * 4  # empty → all zeros
    assert rz[2]["payload"] == b"\x00" * 4  # null → all zeros
    long_doc = spark.createDataFrame(
        [(9, b"abcdefgh")], "asset_id long, payload binary"
    )
    assert resize_images(long_doc, 2, 2).collect()[0]["payload"] == b"abcd"  # truncated

    # decode on the same degenerate inputs: null/empty → decode_ok=false,
    # all-null metadata; non-empty derives dims from first/last byte
    from logvision_spark.operators.multimodal import decode_images

    dec = {r["asset_id"]: r for r in decode_images(media).collect()}
    assert dec[0]["decode_ok"] and dec[0]["width"] == 16 + 97 % 64  # 'a'
    assert dec[0]["height"] == 16 + 98 % 64  # 'b'
    for i in (1, 2):  # empty, null
        assert not dec[i]["decode_ok"]
        assert dec[i]["width"] is None and dec[i]["channels"] is None
    assert dec[3]["decode_ok"] and dec[3]["width"] == 16  # b'\x00'


def test_feature_extraction_feeds_similarity(spark):
    """Multimodal → similarity pipeline: extracted features are unit-norm
    array<float> usable by the cosine operators."""
    from pyspark.sql import functions as F2

    from logvision_spark.operators.multimodal import extract_features
    from logvision_spark.operators.similarity import brute_force_topk

    media = synth_media(spark, n=20)
    feats = extract_features(media, dim=16)
    rows = feats.collect()
    assert len(rows) == 20
    assert all(len(r["feature"]) == 16 for r in rows)
    # deterministic: same payload → same vector
    again = extract_features(media, dim=16).collect()
    assert {r["asset_id"]: r["feature"] for r in rows} == {
        r["asset_id"]: r["feature"] for r in again
    }
    q = feats.where(F2.col("asset_id") == 0).select(F2.col("feature").alias("qe"))
    top = brute_force_topk(
        feats.where(F2.col("asset_id") != 0), q, k=5,
        id_col="asset_id", vec_col="feature",
    ).collect()
    assert len(top) == 5 and top[0]["cos_sim"] >= top[-1]["cos_sim"]


def test_right_size_partitions_no_extra_scan(spark):
    from logvision_spark.operators.multimodal import right_size_partitions

    media = synth_media(spark, n=40)
    # caller-supplied row count: exact partition math, zero jobs
    out = right_size_partitions(
        media, avg_asset_bytes=512, target_partition_bytes=4096, n_rows=40
    )
    assert out.rdd.getNumPartitions() == 5  # 8 rows/part → ceil(40/8)
    # stats path (no n_rows): still yields a sane positive partitioning
    out2 = right_size_partitions(media, avg_asset_bytes=512, target_partition_bytes=4096)
    assert out2.rdd.getNumPartitions() >= 1


def test_resize_plumbing(spark):
    from logvision_spark.operators.multimodal import resize_images

    media = synth_media(spark, n=9)
    out = resize_images(media, target_w=8, target_h=8).collect()
    assert all(len(r["payload"]) == 64 for r in out)
    assert all(r["width"] == 8 and r["height"] == 8 for r in out)


def test_frame_sampling_row_expansion(spark):
    media = synth_media(spark, n=30)
    vids = media.where(F.col("kind") == "video")
    frames = sample_frames(vids, every_ms=1000)
    per = frames.groupBy("asset_id").count().collect()
    durs = {r["asset_id"]: r["duration_ms"] for r in vids.collect()}
    for r in per:
        expected = (durs[r["asset_id"]] + 999) // 1000
        assert r["count"] == expected


def test_redact_pii_replaces_typed_spans(spark):
    from logvision_spark.operators.text import redact_pii

    rows = [
        (0, "mail me at john.doe+spam@corp.example.org thanks"),
        (1, "server 192.168.001.042 rebooted"),
        (2, "call +1 (555) 123-4567 now"),
        (3, "clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r["red"]
        for r in df.select("doc_id", redact_pii(F.col("text")).alias("red")).collect()
    }
    assert out[0] == "mail me at <EMAIL> thanks"
    assert out[1] == "server <IP> rebooted"
    assert out[2] == "call <PHONE> now"
    assert out[3] == rows[3][1]  # untouched


def test_corpus_split_deterministic_and_sized(spark, sf_dir):
    from logvision_spark.operators.text import corpus_split

    d = load_table(spark, "documents", sf_dir)
    split = d.select("doc_id", corpus_split(F.col("doc_id")).alias("s"))
    counts = {r["s"]: r["cnt"] for r in split.groupBy("s").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    n = sum(counts.values())
    assert counts["train"] / n == 0.8 and counts["val"] / n == 0.1
    again = {r["doc_id"]: r["s"] for r in split.collect()}
    assert all(again[r["doc_id"]] == r["s"] for r in split.collect())  # stable


def test_lang_id_on_clear_text(spark):
    rows = [
        (0, "the cat is in the house and it is warm"),
        (1, "der hund ist nicht mit der katze auf dem sofa"),
        (2, "xyzzy plugh qwerty asdf"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["pred_lang"] for r in lang_id(df).collect()}
    assert out[0] == "en" and out[1] == "de" and out[2] == "und"


def test_minhash_exact_groups_is_text_partition(spark):
    """minhash_exact_groups must equal GROUP BY text exactly: exact dups
    group (same signature bucket + same content hash), near-dups whose 8
    minhashes all collide do NOT merge (verify term), and shingle-less
    short docs (NULL signature bucket) still separate by content."""
    from logvision_spark.operators.dedup import minhash_exact_groups

    rows = [
        (0, BASE),
        (1, BASE),              # exact dup of 0
        (2, BASE + " extra"),   # near-dup: likely full-signature collision
        (3, "tiny doc"),        # < 3 tokens: NULL signature
        (4, "tiny doc"),        # exact dup of 3, also NULL signature
        (5, "other tiny"),      # NULL signature, different content
        (6, ""),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r["group_min_id"] for r in minhash_exact_groups(docs).collect()}
    assert got == {0: 0, 1: 0, 2: 2, 3: 3, 4: 3, 5: 5, 6: 6}


def test_near_dup_drop_list_hashed_cache_identical(spark, docs):
    """A pre-hashed (id, xxhash64(shingle)) cache must yield the same
    drop list as strings: signatures are pmod-invariant and Jaccard is
    hash-invariant — the narrow production cache layout."""
    from pyspark.sql import functions as F

    from logvision_spark.operators.dedup import (
        exploded_shingles,
        near_dup_drop_list,
    )

    base = {r["doc_id"] for r in near_dup_drop_list(docs).collect()}
    hashed = exploded_shingles(docs).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )
    got = {
        r["doc_id"]
        for r in near_dup_drop_list(
            docs, shingles=hashed, shingles_hashed=True
        ).collect()
    }
    assert got == base
