"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale notes (the whole point of these designs):

* exact: one hash aggregation on a digest — the only full-data shuffle, and
  it shuffles digests, not documents.
* n-gram Jaccard: candidate pairs are generated by *blocking* (same source +
  length bucket here; any cheap key works) so the pairwise verify never goes
  quadratic in the corpus, only within a block.
* MinHash+LSH: signatures are k aggregations over exploded shingles
  (map-side combinable); banding turns near-dup search into an equi-join on
  (band, band-hash) — the canonical shuffle-friendly shape at 100 TB.
* SimHash: one explode + one aggregation; Hamming distance on int64 via
  xor/bit_count for the verify step.

Everything is built-in Spark expressions; md5-derived hashes keep results
reproducible across engines (see functions/hashing.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import P31, md5_int64, minhash_coeffs
from .text import words

# LSH parameters: 16 permutations in 4 bands of 4 rows. The band-collision
# probability is 1-(1-s^4)^4 — ~0.9 recall at Jaccard 0.8, ~3% false-
# candidate rate at Jaccard 0.3. Fewer rows per band (e.g. 2) floods the
# bucket join with false candidates and goes quadratic at corpus scale.
N_MINHASH = 16
N_BANDS = 4  # rows-per-band = N_MINHASH / N_BANDS = 4
SIMHASH_BITS = 16


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup on content digest: groups + canonical (min) doc id."""
    return (
        df.select("doc_id", F.md5(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("dup_count"),
        )
    )


def word_set(text_col: str) -> Column:
    return F.array_distinct(words(text_col))


def shingle_set(text_col: str, n: int = 3) -> Column:
    """Distinct n-word shingles — the unit for document-level near-dup
    (word unigrams catch topic overlap; shingles catch copied passages).

    Built as a chain of ``zip_with(words, slice(words, k+1, ...))``
    concatenations: the array arguments of a higher-order function are
    evaluated ONCE per row and the lambda only touches its bound
    elements, so cost is O(words·n). (Capturing the words array inside a
    ``transform`` lambda instead re-evaluates the split per element —
    interpreted HOF lambdas do no subexpression reuse — which is
    O(words²) per doc and measured 30x slower at sf0.1.) ``zip_with``
    pads the shorter slice with nulls and ``concat`` propagates them, so
    the trailing (n-1) partial shingles — and every doc with < n words —
    drop out in the null filter.
    """
    ws = words(text_col)
    sz = F.size(ws)
    sh = ws
    for k in range(1, n):
        nxt = F.slice(ws, k + 1, F.greatest(sz - k, F.lit(0)))
        sh = F.zip_with(
            sh, nxt, lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return F.array_distinct(F.filter(sh, lambda x: x.isNotNull()))


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    block_cols: tuple[str, ...] = ("source",),
    text_col: str = "text",
    shingle_n: int = 1,
) -> DataFrame:
    """Blocked pairwise Jaccard over distinct word unigrams
    (``shingle_n=1``) or n-word shingles (``shingle_n>1`` — passage-copy
    detection rather than topical overlap; docs with < n words drop out).

    Formulated as a word-level equi-join: explode distinct words, join on
    (block, word), count common words per pair, then Jaccard by
    inclusion-exclusion against broadcast doc sizes. Entirely equi-join +
    partial-aggregable count — no per-pair array intersection — and pairs
    sharing zero words never materialize (sound for threshold > 0).

    Scale notes: common words skew the (block, word) join; AQE skew-split
    handles moderate Zipf, and at web scale the right pipeline is MinHash
    LSH candidates (``lsh_candidate_pairs``) verified by this measure
    within buckets. The blocking key bounds the quadratic term either way.

    The join key is the 60-bit md5 of the term, not the term string:
    terms within a doc are distinct so per-pair counts are unchanged
    (collision odds ~n²/2⁶¹), and the shuffled key drops from a full
    shingle string (3 words+) to 8 bytes with integer compares in the
    join — the same hashing bargain MinHash already makes.
    """
    if threshold <= 0:
        raise ValueError("threshold must be > 0 (zero-overlap pairs are pruned)")
    from .partitioning import ensure_min_partitions

    sets = (
        word_set(text_col) if shingle_n == 1
        else shingle_set(text_col, shingle_n)
    )
    # Lazy checkpoints against recompute (no cross-subtree CSE in Spark):
    # ``base`` (the tokenization) feeds both the size table and the
    # exploded stream; ``ex`` (tokens + per-term md5) is BOTH sides of
    # the self-join — without materialization the split and the md5 each
    # run twice.
    base = ensure_min_partitions(
        df.select(*block_cols, F.col("doc_id"), F.col(text_col))
    ).select(
        *block_cols, F.col("doc_id"), sets.alias("ws")
    ).filter(F.size("ws") > 0).localCheckpoint(eager=False)
    sizes = base.select("doc_id", F.size("ws").alias("n"))
    ex = base.select(
        *block_cols, "doc_id", F.size("ws").alias("n"),
        F.explode("ws").alias("w")
    ).select(
        *block_cols, "doc_id", "n", md5_int64(F.col("w")).alias("w")
    ).localCheckpoint(eager=False)
    a, b = ex.alias("a"), ex.alias("b")
    # PPJoin length filter (exact): J <= min(n_a,n_b)/max(n_a,n_b), so a
    # pair with min/max < threshold - 1e-6 cannot reach round(J,6) >=
    # threshold; pruning it inside the join cuts the per-common-word
    # pair stream BEFORE the count shuffle (guide §2.3). The 1e-6 slack
    # sits strictly below the round(·,6) verify boundary, so the
    # survivor set is provably unchanged.
    cond = (F.col("a.w") == F.col("b.w")) & (
        F.col("a.doc_id") < F.col("b.doc_id")
    ) & (
        F.least(F.col("a.n"), F.col("b.n"))
        >= (threshold - 1e-6) * F.greatest(F.col("a.n"), F.col("b.n"))
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    common = (
        a.join(b, cond)
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.count("*").alias("_common"))
    )
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jac = F.col("_common") / (
        F.col("sa.n") + F.col("sb.n") - F.col("_common")
    )
    return (
        common.join(F.broadcast(sa), F.col("doc_id_a") == F.col("sa.doc_id"))
        .join(F.broadcast(sb), F.col("doc_id_b") == F.col("sb.doc_id"))
        .select(
            "doc_id_a", "doc_id_b", F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", k: int = N_MINHASH
) -> DataFrame:
    """k-permutation MinHash over word unigrams: explode once, take k mins.

    One shuffle (groupBy doc_id), k columns of partial-aggregable min state.
    The word hash is PROJECTED before the aggregation: Catalyst does no
    common-subexpression elimination across aggregate functions, so
    embedding ``md5_int64(w)`` inside each of the k min() expressions
    would evaluate the md5 k times per word — measured ~2x the whole
    signature stage at k=16.
    """
    coeffs = minhash_coeffs(k)
    ex = df.select("doc_id", F.explode(word_set(text_col)).alias("w")).select(
        "doc_id", (md5_int64(F.col("w")) % P31).alias("h")
    )
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(P31)).alias(f"mh{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return ex.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame, k: int = N_MINHASH, bands: int = N_BANDS
) -> DataFrame:
    """Band the signature, hash each band, equi-join on (band, key).

    The join key is (band_id, band_hash) — a plain shuffle join that AQE can
    skew-split; no pairwise work outside colliding buckets.

    The bucket stream is explicitly repartitioned on (band_id, key) with a
    FIXED partition count before the self-join: the signature table is tiny
    relative to its pair fan-out (5k docs can emit 10M+ pairs on a
    dup-dense corpus), so AQE would coalesce the upstream exchange to one
    partition and the join + the distinct's partial aggregate would run
    single-threaded. Pinning the count keeps pair generation
    bucket-parallel; output size, not input size, is the scaling variable.

    The banded-key stream is lazily localCheckpointed before the
    self-join: Spark does no cross-side CSE, so without it BOTH sides
    re-run the whole signature pipeline (explode + per-word md5 + k
    mins) — measured ~1s of the ~5s query at sf0.1, and at corpus scale
    the signature pass dominates. The banded keys are 3 longs per
    (doc, band) — always small enough to materialize. (A grid-split of
    hot buckets was measured and REJECTED: the g-way replication costs
    more than the skew tail saves at every g tried.)

    First-matching-band dedup (guide §2.4 "remove shuffles outright"):
    a pair colliding in several bands used to be emitted once PER band
    and deduplicated by a full DISTINCT over the pair stream — on a
    dup-dense corpus that distinct shuffles B× the contract output
    (at sf0.1: ~27M join rows -> 7M pairs). Each stacked row now
    carries ALL band keys (bands × 8 bytes — the signature is tiny
    next to its pair fan-out), and the join keeps a pair only in the
    FIRST band where the two docs agree: every colliding pair appears
    exactly once, so the result set is provably identical and the
    distinct exchange disappears. Candidate generation itself is
    unchanged (same buckets, same equi-join).
    """
    rows = k // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("_", *[p.cast("string") for p in parts])),
                    1, 15,
                ), 16, 10,
            ).cast("bigint").alias(f"band{b}")
        )
    banded = sigs.select("doc_id", *band_cols)
    n_shuffle = int(sigs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    all_bands = [f"band{b}" for b in range(bands)]
    stacked = banded.select(
        "doc_id", *all_bands,
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("key"))
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("doc_id", "bk.band_id", "bk.key", *all_bands).repartition(
        n_shuffle, "band_id", "key"
    ).localCheckpoint(eager=False)
    a = stacked.alias("a")
    b_ = stacked.alias("b")
    # smallest band index where the two signatures collide; the join
    # guarantees band_id is a match, so the when-chain always hits
    first_match = F.when(F.col(f"a.{all_bands[0]}") == F.col(f"b.{all_bands[0]}"), 0)
    for i in range(1, bands):
        first_match = first_match.when(
            F.col(f"a.{all_bands[i]}") == F.col(f"b.{all_bands[i]}"), i
        )
    return (
        a.join(
            b_,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.band_id") == first_match),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
    )


def simhash(df: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash over word unigrams: majority vote per bit of the word hash.

    explode + one groupBy with `bits` sums; the signature assembles from bit
    sums with shift-adds. Distance = bit_count(xor) downstream. As in
    :func:`minhash_signatures`, the word hash is projected once before the
    aggregation — no cross-aggregate CSE in Catalyst.
    """
    ex = df.select("doc_id", F.explode(word_set(text_col)).alias("w")).select(
        "doc_id", md5_int64(F.col("w")).alias("h")
    )
    h = F.col("h")
    sums = [
        F.sum(
            F.when(F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    agg = ex.groupBy("doc_id").agg(*sums)
    sig = None
    for i in range(bits):
        bit = F.when(F.col(f"s{i}") > 0, F.lit(2**i)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return agg.select("doc_id", sig.cast("bigint").alias("simhash"))


def simhash_near_pairs(
    sig_df: DataFrame, max_hamming: int = 3
) -> DataFrame:
    """Pairs with Hamming(simhash) <= max_hamming, blocked on the top byte
    so the self-join stays sub-quadratic. The signature table is lazily
    localCheckpointed so the self-join doesn't run the 64-sum signature
    aggregation twice (no cross-side CSE in Spark)."""
    s = sig_df.select(
        "doc_id", "simhash", F.shiftright("simhash", 8).alias("blk")
    ).localCheckpoint(eager=False)
    a, b = s.alias("a"), s.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def _np_min_labels(src, dst):
    """Vectorized exact connected components over an edge list: returns
    (nodes, comp, comp_sizes_by_label_idx) with comp[i] = min node id
    reachable from nodes[i]. Min-label propagation with full pointer
    jumping each round — O(log diameter) vectorized rounds instead of
    a per-edge Python dict loop (measured 10-40x on the contraction
    kernels; guide §4.2 "hand whole batches to vectorized code")."""
    import numpy as np

    both = np.concatenate([src, dst])
    nodes, inv = np.unique(both, return_inverse=True)
    m = len(src)
    s_idx, d_idx = inv[:m], inv[m:]
    # symmetric incidence, grouped by node ONCE (the grouping never
    # changes across rounds; per-round work is one gather + one
    # C-speed grouped min via reduceat)
    idx = np.concatenate([s_idx, d_idx])
    nbr = np.concatenate([d_idx, s_idx])
    order = np.argsort(idx, kind="stable")
    idx_s = idx[order]
    nbr_s = nbr[order]
    starts = np.flatnonzero(
        np.concatenate([[True], idx_s[1:] != idx_s[:-1]]))
    touched = idx_s[starts]
    lab = np.arange(len(nodes), dtype=np.int64)
    while True:
        mins = np.minimum.reduceat(lab[nbr_s], starts)
        new = lab.copy()
        new[touched] = np.minimum(new[touched], mins)
        # pointer jumping: label := label's label until stable
        while True:
            nn = new[new]
            if np.array_equal(nn, new):
                break
            new = nn
        if np.array_equal(new, lab):
            break
        lab = new
    return nodes, nodes[lab], np.bincount(lab, minlength=len(nodes))


def _local_union_find(batches):
    """Per-PARTITION contraction: the partition's edges are replaced by
    an equivalent spanning forest (node -> partition-local min root).
    Connectivity is preserved exactly; edge volume drops to <=
    #nodes-in-partition, and every intra-partition component collapses
    to depth 1 — so the global iterative phase starts from an
    already-contracted graph and needs only the CROSS-partition rounds.
    This is the standard large-graph CC optimization (local aggregation
    before global iteration); the kernel is vectorized numpy min-label
    propagation (identical labels to union-find-by-min: both compute
    min reachable id), never a per-row Python loop."""
    import numpy as np
    import pandas as pd

    srcs, dsts = [], []
    for pdf in batches:
        srcs.append(np.asarray(pdf["src"], dtype=np.int64))
        dsts.append(np.asarray(pdf["dst"], dtype=np.int64))
    if not srcs or not sum(len(s) for s in srcs):
        return
    src = np.concatenate(srcs)
    dst = np.concatenate(dsts)
    nodes, comp, sizes = _np_min_labels(src, dst)
    member = comp != nodes
    # singleton components (self-loop-only nodes) must still surface
    isolated = (~member) & (sizes == 1)
    yield pd.DataFrame({
        "src": pd.Series(np.concatenate([nodes[member], nodes[isolated]]),
                         dtype="int64"),
        "dst": pd.Series(np.concatenate([comp[member], nodes[isolated]]),
                         dtype="int64"),
    })


def _uf_resolve_min_labels(batches):
    """Terminal resolve over a (small, already-contracted) edge set
    gathered into ONE partition: emits (doc_id, component) for every
    node, component = min id reachable — the same fixpoint the
    iterative min-label loop converges to. Vectorized like
    ``_local_union_find``."""
    import numpy as np
    import pandas as pd

    srcs, dsts = [], []
    for pdf in batches:
        srcs.append(np.asarray(pdf["src"], dtype=np.int64))
        dsts.append(np.asarray(pdf["dst"], dtype=np.int64))
    if not srcs or not sum(len(s) for s in srcs):
        return
    nodes, comp, _sizes = _np_min_labels(
        np.concatenate(srcs), np.concatenate(dsts))
    yield pd.DataFrame({
        "doc_id": pd.Series(nodes, dtype="int64"),
        "component": pd.Series(comp, dtype="int64"),
    })


def connected_components(
    edges: DataFrame,
    a: str = "doc_id_a",
    b: str = "doc_id_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    local_contract: bool = True,
    local_resolve_max_edges: int = 2_000_000,
) -> DataFrame:
    """Resolve near-dup pairs into clusters: min-label propagation to
    fixpoint over the undirected pair graph. Returns (doc_id, component)
    with component = min doc_id reachable.

    ``local_contract`` (default on) first replaces each PARTITION's
    edges with an equivalent union-find spanning forest executor-side
    (``_local_union_find``): connectivity is exactly preserved, edge
    volume drops to <= nodes-per-partition, and every intra-partition
    component flattens to depth 1 — the global loop then only pays for
    CROSS-partition structure (the standard local-aggregation-first CC
    optimization; on a co-partitioned 100 TB graph most rounds vanish).

    Iterative driver loop (non-SQL control flow is the legitimate use):
    each round is one shuffle join + min-aggregation, followed by a
    pointer-jumping step (label := label[label], one self-join) that
    squares the propagation distance — convergence drops from
    O(diameter) to O(log diameter) rounds. Near-dup graphs are shallow
    (diameter ≲ 4) so the win there is a round or two, but a chain-ish
    graph (CDC lineage, citation paths) converges in ~log2 rounds
    instead of its length. A checkpoint truncates lineage each round so
    plan size stays O(1); the ``changed == 0`` exit makes the cost
    adaptive, and the per-round action moves no data to the driver.

    ``checkpoint_dir``: when set, iterations checkpoint RELIABLY to that
    (cluster-visible, e.g. object-store) path instead of
    ``localCheckpoint`` — executor loss mid-computation then replays
    from the last checkpoint rather than failing the lineage (ROADMAP
    #5; on a 1000-executor run preemptions are routine, so the durable
    form is the production default and executor-local the fast
    single-node path).

    ``local_resolve_max_edges`` (default 2M): when the contracted forest
    is at most this many edges, the global loop is skipped entirely and ONE task union-finds the forest
    (``_uf_resolve_min_labels``) — identical labels (union-by-min makes
    every root the min reachable id), but 1 job instead of 3-4 jobs per
    propagation round. The forest has <= one edge per distinct node, so
    the gate bounds single-task state regardless of input edge count;
    graphs whose contraction still exceeds the gate (a 100 TB corpus
    has billions of nodes) take the unchanged iterative path.
    """
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

        def _ckpt(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:
        def _ckpt(df: DataFrame) -> DataFrame:
            return df.localCheckpoint()

    raw = edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    if local_contract:
        # Checkpoint the contracted forest: it is referenced twice below
        # (both union branches), and without materialization the
        # mapInPandas contraction would run twice.
        raw = _ckpt(raw.mapInPandas(_local_union_find, "src long, dst long"))
        if raw.count() <= local_resolve_max_edges:  # cheap: checkpointed
            # lazily checkpoint the resolved labels: consumers routinely
            # reference the component table more than once (histogram +
            # join, canonicalize + rollup), and without this each
            # reference re-runs the single-task union-find
            return raw.coalesce(1).mapInPandas(
                _uf_resolve_min_labels, "doc_id long, component long"
            ).localCheckpoint(eager=False)
    sym = raw.union(
        raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = _ckpt(sym.distinct())
    labels = _ckpt(
        sym.select(F.col("src").alias("id")).distinct()
        .select("id", F.col("id").alias("component"))
    )
    for _ in range(max_iter):
        prop = (
            sym.join(labels, sym.src == labels.id)
            .groupBy(F.col("dst").alias("id2"))
            .agg(F.min("component").alias("ncomp"))
        )
        merged = (
            labels.join(prop, labels.id == prop.id2, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("ncomp", "component")
                ).alias("component"),
                (F.coalesce("ncomp", "component") < F.col("component"))
                .cast("int").alias("_chg"),
            )
        )
        # Pointer jumping: component ids are themselves node ids, so one
        # self-join rewrites each label to its label's label. Every label
        # is present in `merged` (components are min *reachable* ids),
        # so the inner join loses no rows.
        jump = merged.select(
            F.col("id").alias("jid"), F.col("component").alias("jcomp")
        )
        merged = (
            merged.join(jump, merged.component == jump.jid)
            .select("id", F.col("jcomp").alias("component"), "_chg")
        )
        merged = _ckpt(merged)
        changed = merged.agg(F.sum("_chg")).collect()[0][0]
        labels = merged.drop("_chg")
        if not changed:
            break
    return labels.select(F.col("id").alias("doc_id"), "component")


def fuzzy_pairs_symdelete(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """Edit-distance-1 pair finding with SymSpell deletion-neighborhood
    blocking: each string emits itself plus every single-character
    deletion as block keys; two strings within edit distance 1
    necessarily share a key (substitution: delete the differing
    position from both; insertion: the shorter string IS a deletion of
    the longer). Candidates are verified with ``levenshtein``.

    Scale shape: keys are O(len) per row — the self-join is linear in
    key volume, never the O(n^2) cross product a naive fuzzy join
    needs. The verify filter runs only on candidates that share a key.
    Repeated deletions (e.g. a run of identical characters) collapse
    via array_distinct, and the pair set dedups before the levenshtein
    verify so each candidate is scored once.

    Only ``max_dist=1`` is exact under single-deletion neighborhoods;
    deeper distances need deletion depth = max_dist (key volume
    O(len^d)) — gated until a workload needs it.
    """
    if max_dist != 1:
        raise NotImplementedError(
            "symdelete blocking implemented for max_dist=1"
        )
    keys = F.array_distinct(
        F.concat(
            F.array(F.col(text_col)),
            F.expr(
                f"transform(sequence(1, length({text_col})), i ->"
                f" concat(substring({text_col}, 1, i - 1),"
                f" substring({text_col}, i + 1)))"
            ),
        )
    )
    from .partitioning import ensure_min_partitions

    base = ensure_min_partitions(df.select(id_col, text_col))
    exploded = base.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        F.explode(keys).alias("k"),
    ).localCheckpoint(eager=False)  # both self-join sides read it —
    # compute the deletion-neighborhood explode once
    rhs = exploded.select(
        F.col("id").alias("id_b"), F.col("txt").alias("txt_b"), "k"
    )
    cand = (
        exploded.join(rhs, "k")
        .filter(F.col("id") < F.col("id_b"))
        .select(
            F.col("id").alias("id_a"), "id_b", "txt", "txt_b"
        )
        .distinct()
    )
    dist = F.levenshtein(F.col("txt"), F.col("txt_b"))
    return (
        cand.withColumn("dist", dist.cast("long"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def lsh_star_edges(
    sigs: DataFrame, k: int = N_MINHASH, bands: int = N_BANDS
) -> DataFrame:
    """Star-contracted LSH bucket edges: connect each doc to its bucket's
    min doc_id instead of materializing all intra-bucket pairs.

    A bucket of m colliding docs yields m-1 edges instead of m(m-2)/2
    pairs — connectivity (and therefore connected components) is
    identical to the full pair graph, but the edge count is linear in the
    corpus. At 100 TB this is the difference between a graph that fits in
    one shuffle and a quadratic blowup on every hot bucket. The window
    min is one shuffle, partition-pruned to (band, key).
    """
    from pyspark.sql import Window

    rows = k // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows + r}") for r in range(rows)]
        band_cols.append(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("_", *[p.cast("string") for p in parts])),
                    1, 15,
                ), 16, 10,
            ).cast("bigint").alias(f"band{b}")
        )
    banded = sigs.select("doc_id", *band_cols)
    stacked = banded.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("key"))
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select("doc_id", "bk.band_id", "bk.key")
    hub = F.min("doc_id").over(Window.partitionBy("band_id", "key"))
    # No DISTINCT: a (doc, hub) edge repeated across bands is harmless
    # to every consumer (connected_components contracts duplicate edges
    # for free), and the dedup exchange cost more than the <= bands-1
    # duplicate edges it removed. Component labels are identical.
    return (
        stacked.withColumn("hub", hub)
        .filter(F.col("doc_id") != F.col("hub"))
        .select(
            F.col("doc_id").alias("doc_id_a"), F.col("hub").alias("doc_id_b")
        )
    )


def boilerplate_shingles(
    df: DataFrame,
    min_docs: int = 4,
    n: int = 3,
    block_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document repeated n-grams: shingles occurring in >= min_docs
    documents of the same block (source/domain) — headers, footers,
    navigation chrome, license blurbs. The C4/RefinedWeb-style boilerplate
    signal, computed corpus-wide instead of per-page.

    Shape: explode distinct shingles (distinct per doc, so count(*) IS the
    doc count) + one hash aggregation on (block, shingle) — map-side
    combinable, no join. The min_docs filter runs inside the aggregation's
    HAVING position, so only the (tiny) repeated tail survives the shuffle
    boundary readout.
    """
    ex = df.select(
        F.col(block_col).alias("block"),
        F.explode(shingle_set(text_col, n)).alias("shingle"),
    )
    return (
        ex.groupBy("block", "shingle")
        .agg(F.count("*").alias("doc_count"))
        .filter(F.col("doc_count") >= min_docs)
    )


def boilerplate_rate(
    df: DataFrame,
    min_docs: int = 4,
    n: int = 3,
    block_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-document boilerplate fraction: share of the doc's distinct
    n-shingles that are block-level boilerplate (see
    :func:`boilerplate_shingles`). The downstream filter drops or trims
    docs above a threshold.

    Two aggregations over one exploded shingle stream: the boilerplate
    set derives from the same (block, shingle) aggregation the rate join
    keys on, and the join is equi on (block, shingle) — never broadcast,
    since the boilerplate set scales with corpus breadth, not with a
    fixed eval suite. Docs with < n words have no shingles and drop out,
    matching shingle-Jaccard semantics.
    """
    # Lazily materialize the exploded shingle stream: it feeds BOTH the
    # boilerplate aggregation and the rate join's probe side, and Spark
    # does no cross-subtree CSE — without this the shingle construction
    # (zip_with chains + array ops per doc) runs twice (the q74 2.7x
    # outlier flagged in the r7 verdict).
    sh = df.select(
        F.col(block_col).alias("block"),
        "doc_id",
        F.explode(shingle_set(text_col, n)).alias("shingle"),
    ).localCheckpoint(eager=False)
    bp = (
        sh.groupBy("block", "shingle")
        .agg(F.count("*").alias("doc_count"))
        .filter(F.col("doc_count") >= min_docs)
        .select("block", "shingle", F.lit(1).alias("_bp"))
    )
    return (
        sh.join(bp, ["block", "shingle"], "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_bp"), F.lit(0))).alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_boiler",
            F.round(F.col("n_boiler") / F.col("n_shingles"), 6).alias(
                "boiler_rate"
            ),
        )
    )


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination probe: corpus docs sharing at least one
    n-shingle with any benchmark document, with the distinct-shingle hit
    count (the GPT-3/Llama n-gram-overlap recipe, as an operator).

    The benchmark side is an eval suite — thousands of docs against a
    100 TB corpus — so its distinct shingle set is BROADCAST and the
    probe is a map-side join on the corpus shingle stream: no shuffle
    touches the corpus until the per-doc count aggregation of the
    (rare) hits. Shingles travel as 60-bit md5 ints, not strings.
    """
    bench = (
        benchmark.select(F.explode(shingle_set(text_col, n)).alias("s"))
        .select(md5_int64(F.col("s")).alias("h"))
        .distinct()
    )
    hits = (
        corpus.select(
            "doc_id", F.explode(shingle_set(text_col, n)).alias("s")
        )
        .select("doc_id", md5_int64(F.col("s")).alias("h"))
        .join(F.broadcast(bench), "h")
    )
    return hits.groupBy("doc_id").agg(F.count("*").alias("n_hits"))


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    tokens: Column | None = None,
) -> DataFrame:
    """Exact all-pairs Jaccard >= threshold WITHOUT blocking keys, via
    prefix filtering (the SSJoin/PPJoin candidate rule).

    Order every document's token set by a global total order (ascending
    corpus frequency, then token). If Jaccard(a, b) >= t then
    |a ∩ b| >= ceil(t·|a|), so the first |a| - ceil(t·|a|) + 1 tokens of
    a — its PREFIX — must intersect b's prefix. Candidates are therefore
    the pairs sharing a prefix token: an equi-join whose key volume is
    the (rare-token-weighted) prefix explode, not the full posting list,
    and nothing like the O(n²) pair space. Survivors are verified
    exactly on the full sets.

    Unlike q27's formulation this needs no application blocking column —
    rare-first ordering makes the prefix join itself the blocker.

    Tokens are dictionary-encoded to int64 ids before the joins: a
    bijection (bucketed dense ids from the frequency table — NOT a hash,
    so no collision can ever change a count) that makes the candidate
    equi-join key and the verify arrays fixed-width ints instead of
    shingle strings. It also applies the two PPJoin candidate
    prunes — the length filter (J <= min/max sizes) and the positional
    filter (overlap left of a shared prefix token is bounded by the
    shorter remaining tail) — both against threshold - 1e-6 so a pair
    whose rounded Jaccard could still reach the verify boundary is never
    pruned: the survivor set is provably unchanged.
    """
    token_expr = tokens if tokens is not None else words(text_col)
    from pyspark.sql import Window

    t_ = threshold - 1e-6  # conservative against round(J, 6) >= t verify
    # One explode of the distinct token sets feeds BOTH the frequency
    # build and the ranked table; checkpoint so tokenization runs once.
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(token_expr)).alias("w"),
    ).localCheckpoint(eager=False)
    freq = toks.groupBy("w").agg(F.count("*").alias("df_w"))
    # Bijective int64 ids without a global sort: row_number inside 64
    # hash buckets of the vocabulary (scale-safe window), offset by
    # bucket * 2^40. Only bijectivity matters for the intersect —
    # rare-first ORDER comes from the per-doc window below.
    vocab = freq.withColumn(
        "bk", F.pmod(F.xxhash64("w"), F.lit(64))
    ).select(
        "w",
        "df_w",
        (
            F.col("bk") * F.lit(1 << 40)
            + F.row_number().over(Window.partitionBy("bk").orderBy("w"))
        ).alias("wid"),
    )
    ranked = toks.join(F.broadcast(vocab), "w").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("id")
            .orderBy(F.col("df_w").asc(), F.col("w").asc())
        ),
    )
    # Per-doc rare-first id arrays: the groupBy reuses the window's
    # hash partitioning by id (no extra Exchange); sorting the
    # (rn, wid) structs pins rare-first order deterministically.
    # Checkpointed: read three times (prefix explode + both verify
    # sides).
    arrs = (
        ranked.groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "wid"))),
                lambda s: s["wid"],
            ).alias("ids")
        )
        .withColumn("sz", F.size("ids"))
        .localCheckpoint(eager=False)
    )
    prefix_len = F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    prefix = arrs.select(
        "id",
        "sz",
        F.posexplode(F.slice("ids", F.lit(1), prefix_len)).alias(
            "pos", "wid"
        ),
    )
    # PPJoin length filter: J(a,b) <= min(|a|,|b|)/max(|a|,|b|), so
    # J >= t forces the sizes within a factor t of each other.
    len_ok = (
        F.least(F.col("a.sz"), F.col("b.sz")).cast("double")
        >= F.lit(t_) * F.greatest(F.col("a.sz"), F.col("b.sz"))
    )
    # PPJoin positional filter: meeting at 0-based prefix positions
    # (pa, pb), the overlap can't exceed 1 + min of the remaining
    # tails, which must reach alpha = ceil(t/(1+t) * (|a|+|b|)) for
    # J >= t. The pair's FIRST shared prefix token gives the loosest
    # bound, so filtering per joined row then distinct-ing pairs
    # keeps every true survivor.
    alpha = F.ceil(F.lit(t_ / (1.0 + t_)) * (F.col("a.sz") + F.col("b.sz")))
    pos_ok = (
        1
        + F.least(
            F.col("a.sz") - 1 - F.col("a.pos"),
            F.col("b.sz") - 1 - F.col("b.pos"),
        )
        >= alpha
    )
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), F.col("a.wid") == F.col("b.wid"))
        .filter((F.col("a.id") < F.col("b.id")) & len_ok & pos_ok)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    va = arrs.select(
        F.col("id").alias("id_a"),
        F.col("ids").alias("ws_a"),
        F.col("sz").alias("sz_a"),
    )
    vb = arrs.select(
        F.col("id").alias("id_b"),
        F.col("ids").alias("ws_b"),
        F.col("sz").alias("sz_b"),
    )
    inter = F.size(F.array_intersect("ws_a", "ws_b"))
    union = F.col("sz_a") + F.col("sz_b") - inter
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("id_a").alias("doc_id_a"),
            F.col("id_b").alias("doc_id_b"),
            "jaccard",
        )
    )


# --------------------------------------------------------------------------
# Bloom-filter membership sketch (the broadcast decontamination shape)
# --------------------------------------------------------------------------
BLOOM_M = 16_384  # bits; m/64 = 256 int64 words — trivially broadcastable
BLOOM_K = 3       # hash functions; fpr ≈ (1 - e^{-kn/m})^k


def _bloom_pos(col: Column, j: int, m: int) -> Column:
    """Position of hash function ``j`` for value ``col`` — md5-derived so
    the oracle replays it bit-for-bit (functions/hashing.py)."""
    return md5_int64(F.concat(col, F.lit(f"|{j}"))) % m


def canonicalize_clusters(
    comp: DataFrame, docs: DataFrame, quality_col: str = "n_chars"
) -> DataFrame:
    """The dedup OUTPUT operator: given component labels (doc_id,
    component) and the doc table, keep ONE canonical doc per near-dup
    cluster — the member with the highest ``quality_col`` (tie: lowest
    doc_id, so the choice is deterministic under any partitioning) —
    and mark the rest as drops. Returns every clustered doc with
    (doc_id, component, quality, is_canonical); singletons are not in
    ``comp`` and are implicitly kept.

    Scale shape: one equi-join on doc_id (component table is O(dup
    docs), far smaller than the corpus) and one cluster-keyed max —
    the argmax travels as max(struct(quality, -doc_id)) so partial
    aggregation happens map-side; no window over the corpus.
    (Production run: q366 wires lsh_star_edges -> connected_components
    -> this; the kept set is the training corpus after dedup.)
    """
    labeled = comp.join(
        docs.select("doc_id", F.col(quality_col).alias("_q")), "doc_id"
    ).localCheckpoint(eager=False)  # argmax build + final join
    best = labeled.groupBy("component").agg(
        F.max(F.struct(F.col("_q"), (-F.col("doc_id")).alias("ni")))
        .alias("t"))
    best = best.select(
        "component", (-F.col("t.ni")).alias("_canon_id"))
    return (
        labeled.join(best, "component")
        .select(
            "doc_id", "component",
            F.col("_q").cast("bigint").alias("quality"),
            (F.col("doc_id") == F.col("_canon_id")).alias("is_canonical"),
        )
    )


def bloom_build(
    df: DataFrame, col: str = "text", m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """Aggregate a Bloom bitmap over ``col``: (word_idx, bits) with
    ``m / 64`` rows. One map-side-combinable bit_or aggregation — the
    result is a ~2 KB table no matter how large the input corpus, which
    is what makes "check 100 TB against a benchmark set" a broadcast
    join instead of a shuffle. Mirrors the reference's existing-tiles
    skip set (gfw_pixetl/pixetl.py target-exists filter) as a sketch.
    """
    pos = df.select(
        F.explode(
            F.array(*[_bloom_pos(F.col(col), j, m) for j in range(k)])
        ).alias("pos")
    )
    return (
        pos.select(
            (F.col("pos") / 64).cast("int").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
        # ~2 KB result; probes broadcast it repeatedly — build once
        .localCheckpoint(eager=False)
    )


def bloom_probe(
    df: DataFrame,
    bloom: DataFrame,
    col: str = "text",
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """Add ``maybe_in_set`` to ``df``: true iff all ``k`` bit positions of
    ``col`` are set in the (broadcast) bitmap. One broadcast equi-join per
    hash function (k small-constant map-side joins against the 256-row
    bitmap) — no explode, no shuffle, no aggregation, so duplicate input
    rows pass through unchanged and no unique-key assumption is made
    (r2 advice: the old groupBy(*df.columns) collapsed duplicates and
    shuffled on wide columns)."""
    out = df
    conds = []
    for j in range(k):
        pos = md5_int64(F.concat(F.col(col), F.lit(f"|{j}"))) % m
        out = out.withColumn(f"_pos{j}", pos).withColumn(
            f"_wi{j}", (F.col(f"_pos{j}") / 64).cast("int"))
        side = bloom.select(
            F.col("word_idx").alias(f"_wi{j}"),
            F.col("bits").alias(f"_bits{j}"),
        )
        out = out.join(F.broadcast(side), f"_wi{j}", "left")
        conds.append(
            F.coalesce(F.col(f"_bits{j}"), F.lit(0))
            .bitwiseAND(F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(_pos{j} % 64 AS INT))"
            ))
            != 0
        )
    flag = conds[0]
    for c in conds[1:]:
        flag = flag & c
    out = out.withColumn("maybe_in_set", flag)
    return out.drop(*[f"_pos{j}" for j in range(k)],
                    *[f"_wi{j}" for j in range(k)],
                    *[f"_bits{j}" for j in range(k)])


def source_minhash_overlap(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    k: int = N_MINHASH,
) -> DataFrame:
    """Corpus-level overlap matrix: one MinHash signature per GROUP
    (min over every word hash any of the group's documents contains),
    then the pairwise matching-component fraction — the standard
    unbiased estimate of vocabulary Jaccard between sub-corpora.

    This is the planning query run before merging crawls: which sources
    duplicate each other enough that cross-source dedup will pay off.
    The corpus-scale work is ONE explode + ONE groupBy over a handful
    of groups (k min-states each, map-side combinable); the pairwise
    stage touches only the #groups^2 signature table.
    """
    coeffs = minhash_coeffs(k)
    ex = df.select(
        F.col(group_col).alias("g"), F.explode(word_set(text_col)).alias("w")
    ).select("g", (md5_int64(F.col("w")) % P31).alias("h"))
    aggs = [
        F.min((F.col("h") * F.lit(a) + F.lit(b)) % F.lit(P31)).alias(f"mh{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    sigs = ex.groupBy("g").agg(*aggs).localCheckpoint(
        eager=False)  # both pair sides read the group signatures
    a, b = sigs.alias("a"), sigs.alias("b")
    matches = None
    for i in range(k):
        m = F.when(F.col(f"a.mh{i}") == F.col(f"b.mh{i}"), 1).otherwise(0)
        matches = m if matches is None else matches + m
    return (
        a.join(F.broadcast(b), F.col("a.g") < F.col("b.g"))
        .select(
            F.col("a.g").alias("source_a"),
            F.col("b.g").alias("source_b"),
            matches.cast("bigint").alias("n_match"),
            F.round(matches / F.lit(float(k)), 6).alias("est_jaccard"),
        )
    )
