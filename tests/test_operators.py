"""Operator-level tests for fuzzy dedup + similarity search: known
near-duplicate recovery, and plan-shape assertions (no cartesian
product in LSH candidate generation; no shuffle in per-row vector
math)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from irs_990_efiler_database_spark.catalog import load_table
from irs_990_efiler_database_spark.operators.dedup import (
    minhash_lsh_pairs,
    simhash_pairs,
)
from irs_990_efiler_database_spark.operators.similarity import (
    ann_topk_bucketed,
    cosine_topk,
    l2_norm,
)

SF = "/root/testdata/sf0.001"


def _augmented(spark):
    d = load_table(spark, SF, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail mutation")).alias("text"),
    )
    return d.unionByName(dups)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_minhash_lsh_finds_planted_neardups(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(_augmented(spark), threshold=0.5).collect()
    }
    planted = [(i, i + 1_000_000) for i in range(10)]
    found = [p for p in planted if p in pairs]
    assert len(found) >= 8  # LSH recall on 0.9+ jaccard pairs
    assert all(pairs[p] > 0.8 for p in found)


def test_minhash_plan_has_no_cartesian(spark):
    plan = _plan(minhash_lsh_pairs(_augmented(spark)))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_prefilter_skipped_at_banding_floor(spark):
    """The estimate-prefilter stage is a provable no-op when its
    cutoff <= rows/k: one band collision already guarantees rows/k
    agreeing signature positions, so every banded candidate passes.
    Round 7 measured the no-op stage's two signature joins at ~55 of
    61 s on the sf1 upsample (13.3M candidates, zero dropped) — the
    operator now skips it at the floor. This test pins BOTH halves:
    (a) the floor invariant that makes the skip safe, and (b) plan
    shape — defaults produce exactly the candidate join + 2 shingle
    joins, while a cutoff above the floor adds its 2 signature joins."""
    from pyspark.sql import functions as F

    from irs_990_efiler_database_spark.operators.dedup import (
        cap_hot_buckets,
        estimated_jaccard,
        shingled,
    )

    # (a) floor invariant on real banded candidates
    sh = shingled(_augmented(spark), "doc_id", "text", 5, 16, 4, 4)
    bandsdf = sh.select("id", F.posexplode("bh").alias("band_idx", "band_hash"))
    bandsdf = cap_hot_buckets(bandsdf, ["band_idx", "band_hash"], 1000)
    a, b = bandsdf.alias("a"), bandsdf.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sigs = sh.select("id", "sig")
    est = (
        cand.join(sigs.withColumnsRenamed({"id": "id_a", "sig": "sig_a"}), "id_a")
        .join(sigs.withColumnsRenamed({"id": "id_b", "sig": "sig_b"}), "id_b")
        .select(estimated_jaccard(F.col("sig_a"), F.col("sig_b"), 16).alias("e"))
    )
    n_cand = est.count()
    assert n_cand > 0
    assert est.filter(F.col("e") < 4 / 16).count() == 0

    # (b) plan shape: default (floor) skips the signature joins
    n_joins_default = _plan(minhash_lsh_pairs(_augmented(spark))).count("Join")
    n_joins_est = _plan(
        minhash_lsh_pairs(_augmented(spark), est_prefilter=0.5)
    ).count("Join")
    assert n_joins_est > n_joins_default


@pytest.mark.slow
def test_simhash_finds_planted_neardups(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(_augmented(spark)).collect()
    }
    planted = [(i, i + 1_000_000) for i in range(10)]
    found = [p for p in planted if p in pairs]
    assert len(found) >= 8
    assert all(pairs[p] <= 6 for p in found)


def test_l2_norm_is_shuffle_free(spark):
    # rebalance=False: pin the OPERATOR plan shape; the conditional
    # small-input scan rebalance adds its own (legitimate) exchange
    e = load_table(spark, SF, "embeddings", rebalance=False)
    out = e.select("vec_id", l2_norm(F.col("embedding")).alias("n"))
    assert "Exchange" not in _plan(out)


def test_cosine_topk_broadcasts_queries(spark):
    e = load_table(spark, SF, "embeddings")
    out = cosine_topk(e, e.filter(F.col("vec_id") < 3), k=2)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" in plan  # the query set, not the corpus
    rows = out.collect()
    assert {r["query_id"] for r in rows} <= {0, 1, 2}
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
        assert -1.000001 <= r["cos"] <= 1.000001


def test_ann_bucketed_is_equijoin_and_subset_of_bruteforce(spark):
    e = load_table(spark, SF, "embeddings")
    q = e.filter(F.col("vec_id") < 3)
    plan = _plan(ann_topk_bucketed(e, q, k=50))
    assert "CartesianProduct" not in plan
    brute = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in cosine_topk(e, q, k=10**6).collect()
    }
    for r in ann_topk_bucketed(e, q, k=50).collect():
        # every ANN hit scores identically to the brute-force path
        assert brute[(r["query_id"], r["neighbor_id"])] == r["cos"]


def test_asof_join_null_payload_comes_from_matched_row(spark):
    """The newest right row wins even when one of its payload columns
    is NULL — all carried values must come from that same row, not be
    stitched from older rows (true as-of semantics)."""
    from irs_990_efiler_database_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 100), (1, 250)], "k int, ts int"
    )
    right = spark.createDataFrame(
        [(1, 50, 7, "old"), (1, 200, None, "new")],
        "k int, ts int, a int, b string",
    )
    out = {
        r["ts"]: r
        for r in asof_join(
            left, right, keys=["k"], ts_col="ts", payload_cols=["a", "b"]
        ).collect()
    }
    # ts=100 matches the (50, a=7, b='old') row
    assert (out[100]["asof_a"], out[100]["asof_b"], out[100]["asof_ts"]) == (
        7, "old", 50,
    )
    # ts=250 matches the (200, a=NULL, b='new') row; a must be NULL —
    # NOT 7 carried over from the older row
    assert (out[250]["asof_a"], out[250]["asof_b"], out[250]["asof_ts"]) == (
        None, "new", 200,
    )


def test_asof_join_backward_tie_col_picks_min(spark):
    """Two right rows at the SAME timestamp: tie_col must pin the
    match to the lowest tie value regardless of shuffle order — the
    same rule the oracle expresses as ORDER BY ts, tie LIMIT 1."""
    from irs_990_efiler_database_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 100)], "k int, ts int")
    right = spark.createDataFrame(
        [(1, 50, 9, "late-id"), (1, 50, 3, "early-id")],
        "k int, ts int, rid int, tag string",
    )
    row = asof_join(
        left, right, keys=["k"], ts_col="ts", payload_cols=["rid", "tag"],
        tie_col="rid",
    ).first()
    assert (row["asof_rid"], row["asof_tag"]) == (3, "early-id")


def test_asof_join_no_match_is_all_null(spark):
    from irs_990_efiler_database_spark.operators.joins import asof_join

    left = spark.createDataFrame([(2, 10)], "k int, ts int")
    right = spark.createDataFrame([(2, 99, 1)], "k int, ts int, a int")
    row = asof_join(
        left, right, keys=["k"], ts_col="ts", payload_cols=["a"]
    ).first()
    assert row["asof_a"] is None and row["asof_ts"] is None


def test_hot_bucket_cap_bounds_degenerate_candidates(spark):
    """1,000 identical docs put every doc in the same band buckets; the
    cap must keep the candidate self-join from going O(n²)."""
    from irs_990_efiler_database_spark.operators.dedup import (
        dropped_bucket_keys,
        minhash_lsh_pairs,
        shingled,
    )

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate text repeated everywhere").alias("text"),
    )
    capped = minhash_lsh_pairs(docs, max_bucket_size=100)
    assert capped.count() == 0  # hot buckets dropped entirely
    # the dropped keys are observable, not silent
    bands = shingled(docs).select(
        "id", F.posexplode("bh").alias("band_idx", "band_hash")
    )
    dropped = dropped_bucket_keys(bands, ["band_idx", "band_hash"], 100)
    rows = dropped.collect()
    assert len(rows) == 4 and all(r["bucket_n"] == 1000 for r in rows)


def test_hot_bucket_cap_passes_small_buckets(spark):
    """Under-cap buckets flow through unchanged: near-dup pairs among a
    small group are still found with the cap on."""
    from irs_990_efiler_database_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again!"),
            (3, "completely unrelated text about spark shuffle partitioning"),
        ],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(docs, max_bucket_size=100).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_blocked_name_pairs_caps_hot_blocks(spark):
    """1,000 orgs sharing one 16-char name prefix ("THE UNITED WAY
    OF…" case) would yield ~500k candidate edit-distances unguarded;
    the hot-block cap must drop the degenerate block entirely while
    small blocks still match."""
    from irs_990_efiler_database_spark.queries.dedup_ops import (
        blocked_name_pairs,
    )

    rows = [(i, f"THE UNITED WAY OF TOWN {i:05d}") for i in range(1000)]
    # one small block with a genuine near-dup pair
    rows += [(2000, "ACME FOUNDATION A"), (2001, "ACME FOUNDATION B")]
    df = spark.createDataFrame(rows, "id long, name string")
    out = blocked_name_pairs(
        df, id_col="id", name_col="name", block_len=16, max_block_size=100
    ).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(2000, 2001)}
    # uncapped control: the same frame yields unbounded candidates
    unc = blocked_name_pairs(
        df, id_col="id", name_col="name", block_len=16, max_dist=10**9,
        max_block_size=None,
    )
    assert unc.count() == 1000 * 999 // 2 + 1


def test_ivf_assignment_is_shuffle_free(spark):
    """The IVF coarse quantizer is a pure projection: inlined centroid
    literals, no join, no Exchange anywhere in the plan."""
    from irs_990_efiler_database_spark.operators.similarity import ivf_assign

    # rebalance=False: pin the OPERATOR plan shape; the conditional
    # small-input scan rebalance adds its own (legitimate) exchange
    e = load_table(spark, SF, "embeddings", rebalance=False)
    from irs_990_efiler_database_spark.operators.similarity import l2_norm

    cents = [
        (int(r[0]), list(r[1]), float(r[2]))
        for r in e.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding", l2_norm(F.col("embedding")))
        .collect()
    ]
    out = ivf_assign(e, cents)
    assert "Exchange" not in _plan(out)
    # every vector lands on exactly one centroid, all centroids exist
    ids = {r["centroid_id"] for r in out.collect()}
    assert ids <= set(range(8))
    # a centroid is its own nearest centroid (cosine(v, v) = 1)
    own = {r["id"]: r["centroid_id"] for r in out.filter(F.col("id") < 8).collect()}
    assert own == {i: i for i in range(8)}


def test_cdc_chunks_survive_a_shift(spark):
    """The content-defined chunker's reason to exist: a one-token
    prefix insertion shifts every FIXED chunk boundary (zero shared
    50-token chunks between original and shifted copy) but leaves
    every content-defined boundary after the edit in place, so the
    shifted copy still shares all chunks past the first boundary."""
    import hashlib

    from irs_990_efiler_database_spark.operators.dedup import cdc_chunks

    words = [f"w{i * 37 % 1009}" for i in range(3000)]
    text = " ".join(words)
    shifted = "INSERTED " + text
    df = spark.createDataFrame(
        [(1, text), (2, shifted)], "doc_id long, text string"
    )
    chunks = cdc_chunks(df).collect()
    by_doc = {1: set(), 2: set()}
    for r in chunks:
        by_doc[r["id"]].add(r["chunk_md5"])
    shared = by_doc[1] & by_doc[2]
    # all of doc 1's chunks except (at most) its first one reappear
    assert len(shared) >= len(by_doc[1]) - 1
    assert len(by_doc[1]) > 5, "divisor should cut ~3000 tokens into many chunks"

    # reference chunking in pure python pins the boundary rule exactly
    def ref_chunks(ws):
        out, cur = [], []
        n = 0
        for w in ws:
            h = int(hashlib.md5(w.encode()).hexdigest()[:8], 16)
            if h % 64 == 0:
                out.append((n, cur))
                n += 1
                cur = []
            cur.append(w)
        out.append((n, cur))
        return {
            no: hashlib.md5(" ".join(c).encode()).hexdigest()
            for no, c in out
            if c
        }

    # note: tokens BEFORE the first boundary form chunk 0; a boundary
    # token STARTS its chunk (sum includes the current row)
    want = ref_chunks(words)
    got = {r["chunk_no"]: r["chunk_md5"] for r in chunks if r["id"] == 1}
    assert got == want


def test_semantic_dedup_finds_planted_copies(spark):
    """SemDeDup recall property: an exact copy of a vector lands in
    the SAME centroid cell by construction (identical cosines to every
    centroid, same lowest-id tie-break), so every planted (v, copy)
    pair must surface with cos = 1.0 — and the float64 prefilter must
    not drop them (margin property). Pairs below the threshold never
    appear."""
    from irs_990_efiler_database_spark.operators.similarity import (
        semantic_dedup_pairs,
    )

    e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    planted = e.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    aug = e.unionByName(planted)
    got = semantic_dedup_pairs(aug, threshold=0.999, n_centroids=8)
    rows = {(r["id_a"], r["id_b"]): r["cos"] for r in got.collect()}
    for i in range(20):
        assert rows.get((i, i + 1_000_000)) == 1.0, i
    assert all(c >= 0.999 for c in rows.values())


def test_ivf_broadcast_quantizer_matches_literal_and_scales_plan(spark):
    """The broadcast-join quantizer must (a) agree with the literal
    path row-for-row, (b) show a BroadcastHashJoin on the packed
    centroid row, and (c) keep plan size O(1) in K — a K=256×dim
    centroid table must NOT appear inlined in the plan text."""
    import time

    from irs_990_efiler_database_spark.operators.similarity import (
        ivf_assign,
        ivf_assign_broadcast,
        l2_norm,
    )

    # rebalance=False: pin the OPERATOR plan shape; the conditional
    # small-input scan rebalance adds its own (legitimate) exchange
    e = load_table(spark, SF, "embeddings", rebalance=False)
    cents = [
        (int(r[0]), list(r[1]), float(r[2]))
        for r in e.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding", l2_norm(F.col("embedding")))
        .collect()
    ]
    lit_out = {
        r["id"]: r["centroid_id"] for r in ivf_assign(e, cents).collect()
    }
    bc = ivf_assign_broadcast(e, cents)
    bc_out = {r["id"]: r["centroid_id"] for r in bc.collect()}
    assert bc_out == lit_out
    # the packed centroid row arrives via a broadcast (constant-key
    # equality folds away, so the planner emits a nested-loop join
    # with a ONE-ROW build side — same cost shape as a broadcast hash
    # join); the corpus side must not shuffle
    plan = _plan(bc)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan
    corpus_side = plan.split("Broadcast")[0]
    assert "Exchange" not in corpus_side

    # K=256 synthetic centroids: plan construction must stay cheap and
    # the plan text must not carry the 256×dim literal
    dim = len(cents[0][1])
    big = [
        (i, [float((i * 31 + d * 7) % 13) - 6.0 for d in range(dim)], 1.0)
        for i in range(256)
    ]
    t0 = time.monotonic()
    plan_txt = _plan(ivf_assign_broadcast(e, big))
    build_sec = time.monotonic() - t0
    assert len(plan_txt) < 100_000
    assert build_sec < 10.0


def test_ivf_topk_matches_exact_within_probed_cells(spark):
    """IVF recall contract: every reported neighbor must be assigned
    to one of the query's probed cells, and ranking within the
    candidate set matches the exact brute-force scores."""
    from irs_990_efiler_database_spark.operators.similarity import ivf_topk

    e = load_table(spark, SF, "embeddings")
    got = ivf_topk(e, e.filter(F.col("vec_id") < 5), k=3).collect()
    assert len(got) > 0
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in cosine_topk(e, e.filter(F.col("vec_id") < 5), k=10**6).collect()
    }
    for r in got:
        assert exact[(r["query_id"], r["neighbor_id"])] == r["cos"]


def test_connected_components_chain_and_clique(spark):
    """Min-label propagation must label a long chain (worst-case
    diameter), a clique, and an isolated pair — cluster_id is the
    smallest member id."""
    from irs_990_efiler_database_spark.operators.dedup import (
        connected_components,
    )

    chain = [(i, i + 1) for i in range(10, 18)]  # component {10..18}
    clique = [(a, b) for a in (1, 2, 3) for b in (1, 2, 3) if a < b]
    pair = [(100, 200)]
    pairs = spark.createDataFrame(chain + clique + pair, ["id_a", "id_b"])
    got = {
        r["id"]: r["cluster_id"] for r in connected_components(pairs).collect()
    }
    want = {i: 10 for i in range(10, 19)}
    want |= {1: 1, 2: 1, 3: 1, 100: 100, 200: 100}
    assert got == want


def test_ivf_train_improves_objective_and_drops_in(spark):
    """Spherical k-means: the sum of best-centroid cosines must not
    decrease from the seeded quantizer to the trained one, and the
    trained centroids drop into the same assignment plan."""
    from irs_990_efiler_database_spark.operators.similarity import (
        ivf_assign,
        ivf_train,
        l2_norm,
    )

    # rebalance=False: pin the OPERATOR plan shape; the conditional
    # small-input scan rebalance adds its own (legitimate) exchange
    e = load_table(spark, SF, "embeddings", rebalance=False)

    def objective(cents):
        scored = ivf_assign(e, cents)
        # re-score each row against its assigned centroid
        byid = {cid: (v, n) for cid, v, n in cents}
        total = 0.0
        rows = scored.collect()
        for r in rows:
            cv, cn = byid[r["centroid_id"]]
            dot = sum(a * b for a, b in zip(r["v"], cv))
            total += dot / (r["vn"] * cn)
        return total / len(rows)

    seed = [
        (int(r[0]), list(r[1]), float(r[2]))
        for r in e.filter(F.col("vec_id") < 8)
        .select("vec_id", "embedding", l2_norm(F.col("embedding")))
        .collect()
    ]
    trained = ivf_train(e, k=8, iterations=3)
    assert len(trained) == 8
    assert objective(trained) >= objective(seed) - 1e-9
    # drop-in: assignment still covers every vector with the same plan
    out = ivf_assign(e, trained)
    assert "Exchange" not in _plan(out)
    assert out.count() == e.count()


def test_guarded_join_passes_and_refuses(spark):
    """guarded_join executes a sane join and refuses an exploding one
    with the exact predicted cardinality in the error."""
    import pytest

    from irs_990_efiler_database_spark.operators.joins import (
        JoinExplosionError,
        guarded_join,
    )

    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "c")], "k long, lv string"
    )
    right = spark.createDataFrame(
        [(1, "x"), (2, "y"), (2, "z")], "k long, rv string"
    )
    ok = guarded_join(left, right, ["k"], max_output_rows=10)
    assert ok.count() == 1 + 2 * 2
    with pytest.raises(JoinExplosionError, match="would produce 5 rows"):
        guarded_join(left, right, ["k"], max_output_rows=4)


def test_guarded_join_outer_counts_unmatched(spark):
    """The guard's estimate includes unmatched-row terms per join type:
    a left join whose inner portion fits the cap can still blow it on
    left-unmatched rows (ADVICE r4), and semi/anti skip the probe."""
    import pytest

    from irs_990_efiler_database_spark.operators.joins import (
        JoinExplosionError,
        guarded_join,
    )

    left = spark.createDataFrame(
        [(k, "l") for k in range(10)] + [(99, "m"), (99, "n")],
        "k long, lv string",
    )
    right = spark.createDataFrame([(99, "x"), (99, "y")], "k long, rv string")
    # inner = 2*2 = 4 rows: passes a cap of 5
    assert guarded_join(left, right, ["k"], "inner", max_output_rows=5).count() == 4
    # left join = 4 + 10 unmatched = 14 rows: must refuse the same cap
    with pytest.raises(JoinExplosionError, match="would produce 14 rows"):
        guarded_join(left, right, ["k"], "left", max_output_rows=5)
    # full join adds right-unmatched (none here) — same 14; the bare
    # "outer" alias must normalize to full, not inner
    with pytest.raises(JoinExplosionError, match="would produce 14 rows"):
        guarded_join(left, right, ["k"], "full", max_output_rows=5)
    with pytest.raises(JoinExplosionError, match="would produce 14 rows"):
        guarded_join(left, right, ["k"], "outer", max_output_rows=5)
    assert guarded_join(left, right, ["k"], "left", max_output_rows=20).count() == 14
    # semi/anti are bounded by |left|: no probe, no refusal
    assert guarded_join(left, right, ["k"], "left_semi", max_output_rows=1).count() == 2
    assert guarded_join(left, right, ["k"], "left_anti", max_output_rows=1).count() == 10
    # an unknown join type (typo or cross) must error, not silently
    # fall through to the too-permissive inner-join estimate (ADVICE r5)
    with pytest.raises(ValueError, match="unsupported join type"):
        guarded_join(left, right, ["k"], "lefy", max_output_rows=5)
    with pytest.raises(ValueError, match="unsupported join type"):
        guarded_join(left, right, ["k"], "cross", max_output_rows=5)


@pytest.mark.slow
def test_exact_ntile_matches_window_ntile(spark):
    """Distributed exact_ntile is bit-identical to F.ntile under the
    same total order, for n < total, n ~ total, and n > total, and the
    full-frame window in its plan is PARTITIONED (the prefix-sum
    window runs only over the #partitions-row counts frame)."""
    import re

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from irs_990_efiler_database_spark.operators.ntile import (
        exact_ntile,
        global_row_number,
    )

    rows = [(i, (i * 37) % 53) for i in range(997)]
    df = spark.createDataFrame(rows, "id long, v long")
    for n in (2, 10, 997, 5000):
        ref = df.select(
            "id",
            F.ntile(n).over(Window.orderBy("v", "id")).cast("long").alias("t"),
        )
        got = exact_ntile(df, n, ["v", "id"], "t").select("id", "t")
        assert ref.exceptAll(got).count() == 0
        assert got.exceptAll(ref).count() == 0

    # global_row_number: exact 1..N permutation under a desc order
    rn = global_row_number(df, [F.col("v").desc(), F.col("id")], "rn")
    got_rn = sorted(r["rn"] for r in rn.select("rn").collect())
    assert got_rn == list(range(1, 998))

    plan = (
        exact_ntile(df, 4, ["v", "id"], "t")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # every row_number window must carry a partition spec
    for m in re.finditer(r"Window \[row_number\(\).*?\], \[(.*?)\]", plan):
        assert "__gr_pid" in m.group(0)


def test_exact_weighted_ntile_balances_weight(spark):
    """Weighted sharding: every shard's weight stays within one max-row
    weight of total/n, boundaries follow the exact integer rule, and
    heavy single rows can't straddle shards."""
    from irs_990_efiler_database_spark.operators.ntile import (
        exact_weighted_ntile,
    )

    rows = [(i, (i * 13) % 97 + 1) for i in range(500)]
    rows += [(500 + i, 0) for i in range(7)]  # zero-weight rows ride along
    df = spark.createDataFrame(rows, "id long, w long")
    n = 6
    out = exact_weighted_ntile(df, n, "w", ["id"], "s", num_partitions=7)
    got = {r["id"]: r["s"] for r in out.collect()}

    total = sum(w for _, w in rows)
    cume = 0
    want = {}
    for i, w in rows:  # ordered by id
        want[i] = min(n - 1, (cume * n) // total)
        cume += w
    assert got == want

    # balance: each shard within max single weight of the ideal
    per = {}
    for i, w in rows:
        per[want[i]] = per.get(want[i], 0) + w
    ideal = total / n
    assert all(abs(v - ideal) <= 97 for v in per.values())
    # zero-weight rows take the shard at their boundary, never a new one
    assert all(got[i] == n - 1 for i in range(500, 507))


def test_ranker_prefix_sums_exact_on_aggregated_input(spark):
    """Regression: the ranking family must be internally consistent
    when its INPUT sits on top of a shuffle (an aggregate), where
    partition-internal row order — and therefore the range sampler's
    boundary choice — is nondeterministic across plan branches. Before
    the tracked_persist pin in operators/ntile.py, the offsets branch
    could describe a DIFFERENT range partitioning than the rows being
    ranked (observed: 13k/15k wrong prefix sums over a 15k-level
    aggregate at sf0.01), silently corrupting every downstream rank.
    This drives the exact reproduction shape: orders → per-cents level
    aggregate → global_running_sum / global_row_number, checked
    against a driver-side recomputation."""
    from irs_990_efiler_database_spark.operators.ntile import (
        global_row_number,
        global_running_sum,
    )

    o = load_table(spark, "/root/testdata/sf0.01", "orders")
    levels = (
        o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("nl"))
    )

    pre = global_running_sum(
        levels, "nl", [F.col("c")], out_col="cum", inclusive=False,
        total_col="tot",
    )
    got = {r["c"]: (r["cum"], r["tot"]) for r in pre.collect()}
    rows = sorted(
        (r["c"], r["nl"]) for r in levels.collect()
    )
    total = sum(nl for _, nl in rows)
    run = 0
    for c, nl in rows:
        assert got[c] == (run, total), f"prefix mismatch at c={c}"
        run += nl

    rn = global_row_number(levels, [F.col("c")], out_col="rn")
    got_rn = [r["c"] for r in rn.orderBy("rn").select("c").collect()]
    assert got_rn == [c for c, _ in rows]
