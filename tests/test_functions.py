"""Unit tests for training-data pipeline functions (dedup, text,
similarity, hashing) on small controlled inputs."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from gfw_pixetl_spark.functions import dedup as D
from gfw_pixetl_spark.functions import similarity as S
from gfw_pixetl_spark.functions import text as T
from gfw_pixetl_spark.functions.hashing import P31, md5_int64, minhash_coeffs


def docs_df(spark, texts):
    return spark.createDataFrame(
        [(i, "src", t) for i, t in enumerate(texts)],
        ["doc_id", "source", "text"],
    )


def test_md5_int64_matches_python(spark):
    df = spark.createDataFrame([("hello",)], ["w"])
    got = df.select(md5_int64(F.col("w")).alias("h")).collect()[0].h
    expected = int(hashlib.md5(b"hello").hexdigest()[:15], 16)
    assert got == expected


def test_minhash_coeffs_deterministic():
    a = minhash_coeffs(8)
    b = minhash_coeffs(8)
    assert a == b
    assert all(0 < x < P31 for pair in a for x in pair)


def test_exact_dedup(spark):
    df = docs_df(spark, ["same text", "same text", "different"])
    out = D.exact_dedup(df).collect()
    by_count = sorted((r.dup_count, r.canonical_doc_id) for r in out)
    assert by_count == [(1, 2), (2, 0)]


def test_jaccard_identical_and_disjoint(spark):
    df = docs_df(spark, ["a b c", "a b c", "x y z"])
    out = D.ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_id_a, r.doc_id_b, r.jaccard) == (0, 1, 1.0)


def test_minhash_identical_docs_equal_sigs(spark):
    df = docs_df(spark, ["the quick brown fox", "the quick brown fox", "lorem ipsum"])
    rows = {r.doc_id: r for r in D.minhash_signatures(df).collect()}
    sig0 = [rows[0][f"mh{i}"] for i in range(D.N_MINHASH)]
    sig1 = [rows[1][f"mh{i}"] for i in range(D.N_MINHASH)]
    sig2 = [rows[2][f"mh{i}"] for i in range(D.N_MINHASH)]
    assert sig0 == sig1
    assert sig0 != sig2


def test_lsh_pairs_find_identical(spark):
    df = docs_df(spark, ["the quick brown fox", "the quick brown fox", "lorem ipsum"])
    sigs = D.minhash_signatures(df)
    pairs = {(r.doc_id_a, r.doc_id_b) for r in D.lsh_candidate_pairs(sigs).collect()}
    assert (0, 1) in pairs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_simhash_near_pairs(spark):
    df = docs_df(spark, ["alpha beta gamma delta", "alpha beta gamma delta"])
    sig = D.simhash(df)
    pairs = D.simhash_near_pairs(sig, max_hamming=0).collect()
    assert len(pairs) == 1 and pairs[0].hamming == 0


def test_language_id(spark):
    df = docs_df(spark, [
        "the cat and the dog of a house",
        "der hund und die katze und das",
        "zzz qqq xxx",
    ])
    out = {r.doc_id: r.pred_lang for r in T.language_id(df).collect()}
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "und"


def test_token_counts(spark):
    df = docs_df(spark, ["hello world 123, ok!"])
    out = df.select(
        T.token_count_whitespace("text").alias("ws"),
        T.token_count_bpe("text").alias("bpe"),
    ).collect()[0]
    assert out.ws == 4
    # hello | world | 123 | , | ok | !
    assert out.bpe == 6


def test_fingerprint_position_sensitive(spark):
    df = docs_df(spark, ["a b", "b a"])
    out = {r.doc_id: r.fingerprint for r in T.fingerprint(df).collect()}
    assert out[0] != out[1]  # same words, different order -> different prints


def test_cosine_topk(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
        ],
        ["vec_id", "embedding"],
    )
    queries = emb.filter(F.col("vec_id") == 0)
    out = S.brute_force_topk(emb, queries, k=2).collect()
    ranked = sorted((r.rank, r.neighbor_id) for r in out)
    assert ranked == [(1, 1), (2, 2)]  # nearest first


def test_centroid_assign_degenerate_cosines(spark):
    """Pins the min(struct(-cos, clabel)) argmax on degenerate cosines.
    A zero-norm vector or centroid makes cosine 0/0: under the session's
    ANSI arithmetic the query raises; without ANSI the cosine is null,
    nulls order first in the struct min, so a null-scored centroid wins
    and ties break on the label. A NaN cosine (NaN component) orders
    largest, so the argmax skips it when any other cosine exists."""
    schema = "vec_id int, label string, embedding array<double>"
    cents = spark.createDataFrame(
        [("A", [1.0, 0.0]), ("B", [0.0, 1.0])],
        "clabel string, centroid array<double>",
    )
    zero_cent = cents.unionByName(spark.createDataFrame(
        [("Z", [0.0, 0.0])], "clabel string, centroid array<double>"))
    nan_cent = cents.unionByName(spark.createDataFrame(
        [("N", [float("nan"), 0.0])], "clabel string, centroid array<double>"))
    unit = spark.createDataFrame([(1, "a", [0.0, 1.0])], schema)
    zero_vec = spark.createDataFrame([(2, "b", [0.0, 0.0])], schema)

    def pick(emb, cent):
        return [(r.assigned, r.sim) for r in S.centroid_assign(emb, cent).collect()]

    assert pick(unit, nan_cent) == [("B", 1.0)]
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    for emb, cent in ((zero_vec, cents), (unit, zero_cent)):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
            pick(emb, cent)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        assert pick(zero_vec, cents) == [("A", None)]
        assert pick(unit, zero_cent) == [("Z", None)]
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


def test_ivf_assign_and_topk(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),   # centroid A
            (1, [0.0, 1.0]),   # centroid B
            (2, [0.9, 0.1]),   # near A
            (3, [0.1, 0.9]),   # near B
            (4, [0.8, 0.2]),   # near A
        ],
        ["vec_id", "embedding"],
    )
    cents = emb.filter(F.col("vec_id") < 2)
    assign = {r.vec_id: r.cell_id for r in S.ivf_assign(emb, cents).collect()}
    assert assign[2] == 0 and assign[4] == 0
    assert assign[3] == 1
    out = S.ivf_ann_topk(
        emb, emb.filter(F.col("vec_id") == 2), cents, k=2, n_probe=1
    ).collect()
    ranked = sorted((r.rank, r.neighbor_id) for r in out)
    # probing only cell A: neighbors are {0, 4} (not 1/3 in cell B);
    # cos([.9,.1],[1,0])=.994 beats cos([.9,.1],[.8,.2])=.991
    assert ranked == [(1, 0), (2, 4)]


def test_lsh_bucket_identical_vectors_collide(spark):
    ws = S.hyperplane_weights()
    emb = spark.createDataFrame(
        [(0, [1.0] * len(ws[0])), (1, [1.0] * len(ws[0]))],
        ["vec_id", "embedding"],
    )
    out = emb.select(S.lsh_bucket(F.col("embedding"), ws).alias("b")).collect()
    assert out[0].b == out[1].b


def test_connected_components_chain_and_islands(spark):
    from gfw_pixetl_spark.functions.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "doc_id_a long, doc_id_b long",
    )
    got = {
        r.doc_id: r.component
        for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_connected_components_long_chain_log_rounds(spark):
    """Pointer jumping makes convergence O(log diameter): a 200-node
    path resolves within 12 rounds (plain min-propagation would need
    ~200 and return a wrong labeling at max_iter=12)."""
    from gfw_pixetl_spark.functions.dedup import connected_components

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_id_a long, doc_id_b long"
    )
    got = {
        r.doc_id: r.component
        for r in connected_components(edges, max_iter=12).collect()
    }
    assert got == {i: 0 for i in range(n + 1)}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir switches to durable checkpoint() (ROADMAP #5):
    same fixpoint, and checkpoint files actually land in the dir."""
    from gfw_pixetl_spark.functions.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_id_a long, doc_id_b long"
    )
    ckdir = str(tmp_path / "ck")
    got = {
        r.doc_id: r.component
        for r in connected_components(edges, checkpoint_dir=ckdir).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    import os

    assert any(files for _, _, files in os.walk(ckdir))


def test_lsh_star_edges_same_components_as_pairs(spark):
    """Star contraction preserves connectivity: components over star
    edges == components over the full LSH pair graph."""
    from gfw_pixetl_spark.functions.dedup import (
        connected_components, lsh_candidate_pairs, lsh_star_edges,
        minhash_signatures,
    )
    from gfw_pixetl_spark.harness import load
    from tests.conftest import SF_SMOKE

    sigs = minhash_signatures(load(spark, SF_SMOKE, "documents").limit(200))
    via_pairs = {
        (r.doc_id, r.component)
        for r in connected_components(lsh_candidate_pairs(sigs)).collect()
    }
    via_star = {
        (r.doc_id, r.component)
        for r in connected_components(lsh_star_edges(sigs)).collect()
    }
    assert via_star == via_pairs


def test_boilerplate_shingles_and_rate(spark):
    # "x y z" appears in docs 0 and 1 (boilerplate at min_docs=2);
    # doc 2 shares no shingle; doc 3 is too short to shingle.
    df = docs_df(spark, [
        "x y z a b c",   # shingles: xyz yza zab abc
        "x y z q r s",   # shingles: xyz yzq zqr qrs
        "u v w t",       # shingles: uvw vwt
        "a b",           # no 3-shingles
    ])
    bp = D.boilerplate_shingles(df, min_docs=2).collect()
    assert [(r.block, r.shingle, r.doc_count) for r in bp] == [
        ("src", "x y z", 2)
    ]
    rates = {
        r.doc_id: (r.n_shingles, r.n_boiler, r.boiler_rate)
        for r in D.boilerplate_rate(df, min_docs=2).collect()
    }
    assert rates == {0: (4, 1, 0.25), 1: (4, 1, 0.25), 2: (2, 0, 0.0)}


def test_contamination_hits(spark):
    corpus = docs_df(spark, ["a b c d", "p q r s", "a b c x y z"])
    bench = spark.createDataFrame(
        [(100, "src", "a b c"), (101, "src", "x y z")],
        ["doc_id", "source", "text"],
    )
    out = {r.doc_id: r.n_hits for r in D.contamination_hits(corpus, bench).collect()}
    # doc 0 shares "a b c"; doc 2 shares "a b c" and "x y z"; doc 1 clean.
    assert out == {0: 1, 2: 2}


def test_prefix_ssjoin_finds_planted_neardups(spark):
    """Prefix-filtered exact SSJoin: planted copies surface with their
    exact Jaccard, unrelated docs never pair, and no blocking column is
    needed."""
    from gfw_pixetl_spark.functions import dedup as D

    a = "the quick brown fox jumps over the lazy dog again and again"
    a_near = "the quick brown fox jumps over the lazy dog again and AGAIN2"
    b = "completely different words about spark query engines at scale"
    rows = [(1, a), (2, a_near), (3, b), (4, "tiny doc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in D.prefix_jaccard_pairs(
            df, threshold=0.5, tokens=D.shingle_set("text")
        ).collect()
    }
    assert set(out) == {(1, 2)}
    # 10 shingles each, 9 shared -> 9/11
    assert out[(1, 2)] == round(9 / 11, 6)


# -- chunking (q167 operator) ---------------------------------------------

def test_chunk_documents_coverage(spark):
    texts = ["a" * 553, "b" * 200, "c" * 201, "d" * 40, "e"]
    df = T.chunk_documents(docs_df(spark, texts), size=200, overlap=40)
    rows = df.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # chunk counts: ceil((n-40)/160) clamped to >= 1
    assert len(by_doc[0]) == 4 and len(by_doc[1]) == 1
    assert len(by_doc[2]) == 2 and len(by_doc[3]) == 1 and len(by_doc[4]) == 1
    for i, text in enumerate(texts):
        chunks = sorted(by_doc[i], key=lambda r: r.chunk_id)
        # starts stride apart, reconstruction covers the full text
        rebuilt = chunks[0].chunk_text
        for prev, cur in zip(chunks, chunks[1:]):
            assert cur.chunk_start == prev.chunk_start + 160
            rebuilt += cur.chunk_text[40:] if len(
                text) - cur.chunk_start >= 40 else cur.chunk_text
        assert rebuilt == text
        assert all(r.chunk_len == len(r.chunk_text) for r in chunks)


def test_chunk_documents_rejects_bad_overlap(spark):
    with pytest.raises(ValueError):
        T.chunk_documents(docs_df(spark, ["x"]), size=10, overlap=10)


# -- bloom filter (q168 operator) -----------------------------------------

def test_bloom_no_false_negatives(spark):
    members = [f"member {i}" for i in range(30)]
    others = [f"other {i}" for i in range(30)]
    bloom = D.bloom_build(docs_df(spark, members), "text")
    probed = D.bloom_probe(docs_df(spark, members + others), bloom)
    got = {r.text: r.maybe_in_set for r in probed.collect()}
    assert all(got[t] for t in members)  # bloom guarantee
    # at n=30 / m=16384 / k=3 the fp rate is ~1e-7: all others clean
    assert not any(got[t] for t in others)


def test_bloom_bitmap_is_tiny(spark):
    bloom = D.bloom_build(docs_df(spark, [f"t{i}" for i in range(100)]))
    assert bloom.count() <= D.BLOOM_M // 64


# -- covariance (q170 operator) -------------------------------------------

def test_covariance_upper_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    X = rng.normal(size=(40, 5)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        ["vec_id", "embedding"],
    ).repartition(4)
    got = {(r.i, r.j): r.cov for r in S.covariance_upper(df).collect()}
    ref = np.cov(X.astype("float64"), rowvar=False, bias=True)
    assert len(got) == 15
    for i in range(5):
        for j in range(i, 5):
            assert abs(got[(i + 1, j + 1)] - ref[i, j]) < 2e-6


# -- train/val/test split (q173 operator) ----------------------------------

def test_split_deterministic_and_stable(spark):
    from gfw_pixetl_spark.functions.sampling import train_val_test_split

    df = spark.createDataFrame(
        [(i, f"t{i}") for i in range(500)], ["doc_id", "text"])
    s1 = {r.doc_id: r.split for r in train_val_test_split(df).collect()}
    # stability under corpus growth: same ids keep their split
    df2 = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1000)], ["doc_id", "text"])
    s2 = {r.doc_id: r.split for r in train_val_test_split(df2).collect()}
    assert all(s2[i] == s1[i] for i in s1)
    # rough proportions
    from collections import Counter

    c = Counter(s2.values())
    assert c["train"] > 800 and 20 <= c["val"] <= 90 and 20 <= c["test"] <= 90
    # different salt reshuffles
    s3 = {r.doc_id: r.split
          for r in train_val_test_split(df, salt="v2").collect()}
    assert any(s3[i] != s1[i] for i in s1)


# -- product quantization (q174 operator) ----------------------------------

def test_pq_encode_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    X = rng.normal(size=(60, 8)).astype("float64")
    codebook = [[list(X[j, s * 4:(s + 1) * 4]) for j in range(4)]
                for s in range(2)]
    df = spark.createDataFrame(
        [(i, list(map(float, row))) for i, row in enumerate(X)],
        ["vec_id", "embedding"])
    got = {r.vec_id: r for r in S.pq_encode(df, codebook).collect()}
    for i, x in enumerate(X):
        err = 0.0
        for s in range(2):
            sub = x[s * 4:(s + 1) * 4]
            dists = [float(np.sum((sub - np.array(codebook[s][j])) ** 2))
                     for j in range(4)]
            j_best = int(np.argmin(dists))
            assert got[i][f"code_{s}"] == j_best
            err += min(dists)
        assert abs(got[i].recon_err - err) < 1e-5
    # codebook rows encode to themselves with ~zero error
    assert got[0].code_0 == 0 and got[0].code_1 == 0
    assert got[0].recon_err == 0.0


# -- morton layout (q183 operator) -----------------------------------------

def test_morton_locality_beats_row_major(spark):
    from gfw_pixetl_spark.functions.partitioning import morton_key

    df = spark.range(1024)
    gx = (F.col("id") % 32).cast("int")
    gy = (F.col("id") / 32).cast("int")
    rows = df.select(
        gx.alias("gx"), gy.alias("gy"),
        morton_key(gx, gy, bits=5).alias("z")).collect()
    z = {(r.gx, r.gy): r.z for r in rows}
    # bijective onto 0..1023
    assert sorted(z.values()) == list(range(1024))
    # locality: fraction of 4-neighbor pairs within the same 64-key shard
    def same_shard(key):
        hits = tot = 0
        for (x, y), k in z.items():
            for dx, dy in ((1, 0), (0, 1)):
                if (x + dx, y + dy) in z:
                    tot += 1
                    hits += key((x, y)) // 64 == key((x + dx, y + dy)) // 64
        return hits / tot
    z_frac = same_shard(lambda p: z[p])
    rm_frac = same_shard(lambda p: p[1] * 32 + p[0])  # row-major
    assert z_frac > rm_frac  # z-order keeps 2-D neighbors together
    assert z_frac > 0.6


def test_triangle_stats_known_graph(spark):
    from gfw_pixetl_spark.functions.graphs import triangle_stats, undirect

    # K4 plus a pendant: 4 triangles, 6+1 edges
    edges = spark.createDataFrame(
        [(a, b) for a in range(4) for b in range(4) if a != b]
        + [(3, 9)], ["src", "dst"])
    got = triangle_stats(undirect(edges)).collect()[0]
    assert got.n_edges == 7
    assert got.n_triangles == 4
    # wedges: deg 3,3,3,4,1 -> 3+3+3+6+0 = 15
    assert got.n_wedges == 15
    assert got.global_clustering == round(12 / 15, 6)


def test_connected_components_local_contract_equivalence(spark):
    """The union-find pre-contraction must be invisible in the result:
    same labels as the uncontracted loop on a graph with chains,
    islands, a star, and a self-loop, under a partitioning that splits
    components ACROSS partitions (the case contraction can't finish
    locally)."""
    from gfw_pixetl_spark.functions.dedup import connected_components

    pairs = (
        [(i, i + 1) for i in range(0, 40)]          # one long chain
        + [(100, 101), (102, 103)]                   # islands
        + [(200, x) for x in range(201, 220)]        # star
        + [(300, 300)]                               # self-loop only
        + [(400, 401), (401, 402), (400, 402)]       # triangle
    )
    edges = spark.createDataFrame(
        pairs, "doc_id_a long, doc_id_b long").repartition(7)
    on = {(r.doc_id, r.component)
          for r in connected_components(edges, local_contract=True).collect()}
    off = {(r.doc_id, r.component)
           for r in connected_components(edges, local_contract=False).collect()}
    assert on == off
    # spot-check semantics: chain collapses to min id 0
    labels = dict(on)
    assert labels[40] == 0 and labels[219] == 200 and labels[300] == 300


def test_connected_components_local_resolve_matches_loop(spark):
    """The single-task terminal resolve (contracted forest under the
    size gate) must produce byte-identical labels to the iterative
    min-label loop (gate forced to 0 edges)."""
    from gfw_pixetl_spark.functions.dedup import connected_components

    pairs = (
        [(i, i + 1) for i in range(0, 40)]
        + [(100, 101), (102, 103)]
        + [(200, x) for x in range(201, 220)]
        + [(300, 300)]
        + [(400, 401), (401, 402), (400, 402)]
        + [(500 + i, 560 - i) for i in range(30)]    # zig-zag chain
    )
    edges = spark.createDataFrame(
        pairs, "doc_id_a long, doc_id_b long").repartition(7)
    fast = {(r.doc_id, r.component)
            for r in connected_components(
                edges, local_resolve_max_edges=10**9).collect()}
    loop = {(r.doc_id, r.component)
            for r in connected_components(
                edges, local_resolve_max_edges=0).collect()}
    assert fast == loop
    assert dict(fast)[560] == 500


def test_mmr_local_bound_matches_loop(spark):
    """The bounded-candidate driver replay must pick the exact ids the
    distributed greedy loop picks — including float-tie ordering and
    the (score desc, id asc) tie rule."""
    from gfw_pixetl_spark.functions.similarity import mmr_select

    vecs = [
        (i, [((i * 13 + j * 7) % 11 - 5) / 3.0 + (1.0 if j == i % 8
                                                  else 0.0)
             for j in range(8)])
        for i in range(60)
    ]
    # exact duplicate of vec 3 under a larger id: forces a score tie
    vecs.append((90, list(vecs[3][1])))
    df = spark.createDataFrame(
        vecs, "vec_id long, embedding array<double>").repartition(5)
    corpus = df.filter("vec_id != 0")
    query = df.filter("vec_id = 0")
    fast = [(r.step, r.vec_id) for r in mmr_select(
        corpus, query, k=4, lam=0.7, local_bound=100).collect()]
    loop = [(r.step, r.vec_id) for r in mmr_select(
        corpus, query, k=4, lam=0.7).collect()]
    assert fast == loop
    assert len(fast) == 4


def test_budget_select_matches_global_window(spark):
    """Bucketed distributed prefix sum == naive global cumsum, including
    cross-bucket boundaries and score ties (broken by id)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from gfw_pixetl_spark.functions.sampling import budget_select

    rows = [(i, (i * 37 % 100) / 100.0, 10 + i % 7) for i in range(200)]
    rows += [(500, 0.5, 5), (501, 0.5, 5)]  # exact tie on score
    df = spark.createDataFrame(
        rows, "doc_id long, score double, cost long").repartition(5)
    got = {(r.doc_id, r.running_cost) for r in budget_select(
        df, "score", "cost", budget=700, id_col="doc_id"
    ).select("doc_id", "running_cost").collect()}
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    want = {(r.doc_id, r.run) for r in df.withColumn(
        "run", F.sum("cost").over(w)).filter(F.col("run") <= 700)
        .select("doc_id", "run").collect()}
    assert got == want and got


def test_budget_select_budget_below_first_doc_selects_nothing(spark):
    from gfw_pixetl_spark.functions.sampling import budget_select

    df = spark.createDataFrame(
        [(1, 0.9, 100), (2, 0.1, 100)], "doc_id long, score double, cost long")
    assert budget_select(df, "score", "cost", budget=50).count() == 0


def test_sq8_codes_bounded_and_scale_recovers(spark):
    from pyspark.sql import functions as F

    from gfw_pixetl_spark.functions.similarity import sq8_quantize

    vecs = [(0, [0.5, -1.0, 0.25, 1.0]), (1, [-0.003, 0.001, 0.002, -0.004])]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = {r.vec_id: (list(r.sq8_code), r.sq8_scale)
           for r in sq8_quantize(df).collect()}
    for code, scale in out.values():
        assert all(-127 <= c <= 127 for c in code)
        assert max(abs(c) for c in code) == 127  # max-abs element saturates
    assert out[0][0] == [64, -127, 32, 127]  # exact quarters of 127+0.5 floor


def test_unigram_train(spark):
    """Unigram-LM hard-EM: alphabet always survives, multi-char pieces
    reflect Viterbi usage (fewest-pieces objective picks the longest
    covering pieces), zero-count multis are pruned, counts are exact."""
    from gfw_pixetl_spark.functions.text import unigram_train

    df = spark.createDataFrame(
        [("the cat sat on the mat the cat",),
         ("the mat the cat the hat",),
         ("cat hat mat bat",)], "text string")
    out = unigram_train(df, n_seed=6, rounds=2, max_piece=3)
    rows = out.collect()
    r2 = {r.piece: r.cnt for r in rows if r.round == 2}
    # 'the'/'cat'/'mat'/'hat' are 3-char words: a single piece wins the
    # fewest-pieces objective outright
    assert r2.get("the", 0) >= 5
    assert r2.get("cat", 0) >= 4
    # alphabet present even at zero usage
    for ch in "thecasonmb":
        assert ch in r2
    # single-piece segmentation means the chars of 'the' go unused
    # ('h' stays used: 'hat' segments as h + at)
    assert r2["t"] == 0 and r2["e"] == 0 and r2["h"] == 2
    # rounds are monotone in inventory: round-2 multis are a subset
    r1_multi = {r.piece for r in rows if r.round == 1 and len(r.piece) > 1}
    r2_multi = {r.piece for r in rows if r.round == 2 and len(r.piece) > 1}
    assert r2_multi <= r1_multi


def test_unigram_apply(spark):
    """Apply side: per-doc piece counts under the trained inventory;
    single-piece words cost 1, char-fallback words cost their length."""
    from gfw_pixetl_spark.functions.text import unigram_apply

    df = spark.createDataFrame(
        [(0, "the cat the cat xq"), (1, "the the the")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           unigram_apply(df, n_seed=4, rounds=2, max_piece=3).collect()}
    # doc 1: 'the' trains as one piece -> 3 words, 3 pieces
    assert out[1].n_words == 3 and out[1].n_pieces == 3
    assert out[1].n_chars == 9 and out[1].chars_saved == 6
    # doc 0: 'the' is a seed piece; 'cat' is NOT (the 4-slot seed is
    # {he, th, the, at} by freq desc, piece asc) so cat = c + at;
    # 'xq' falls back to chars. 1+2+1+2+2 = 8
    assert out[0].n_words == 5
    assert out[0].n_pieces == 8
    assert out[0].chars_saved == 14 - 8
