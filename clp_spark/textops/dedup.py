"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine near-dup.

Design rules (100 TB discipline):
  - every operator is pure DataFrame algebra (JVM/codegen) — no Python UDFs;
  - thresshold comparisons use integer cross-multiplication
    (q·inter ≥ p·union instead of inter/union ≥ p/q) so results are
    bit-deterministic across engines and cluster sizes;
  - hashes derive from md5 (available everywhere) truncated to 60 bits —
    deterministic, seedable via an integer tag mixed into the input;
  - pairwise stages join on shingle/band/bucket keys, never cross-join;
    ultra-frequent shingles can be capped (`max_shingle_df`) to bound the
    join fan-out on web-scale corpora (standard near-dup practice).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from clp_spark.util import spread


def _h60(col_expr: str, tag: int) -> str:
    """60-bit integer hash of a string expr: md5 → first 15 hex digits.

    Identical in Spark and DuckDB SQL, so oracle checks are exact.
    """
    return (
        f"cast(conv(substr(md5(concat('{tag}:', {col_expr})),1,15),16,10) as bigint)"
    )


def word_shingle_sets(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    drop_short: bool = False,
) -> DataFrame:
    """(id, shingles array<string>, sz) — the distinct word n-gram set per
    document plus its cardinality. Entirely narrow (one projection, no
    shuffle); docs shorter than n words get an empty set, or are dropped
    up front with drop_short=True.

    The split() is bound to its own column first so it runs ONCE per row
    (inlining it into the transform lambda re-splits the text once per
    shingle — O(len²) per document, measured 20× slower), and each
    shingle is built with O(1) ordinal lookups instead of slice().

    drop_short filters on size(_w) — equivalent to sz > 0 but evaluated
    BEFORE the shingle expression. A caller-side filter(sz > 0) gets
    pushed below the projection and re-evaluates the whole
    array_distinct(transform(...)) per row in interpreted mode
    (higher-order functions don't codegen inside Filter) — measured 13×
    slower than the projection itself."""
    gram = " || ' ' || ".join(f"_w[i+{j}]" for j in range(n))
    base = spread(docs).select(
        F.col(id_col).alias("id"),
        F.expr(f"split({text_col}, ' ')").alias("_w"),
    )
    if drop_short:
        base = base.filter(F.size("_w") >= n)
        sh = (
            f"array_distinct(transform(sequence(0, size(_w)-{n}), i -> {gram}))"
        )
    else:
        sh = (
            f"CASE WHEN size(_w) >= {n} THEN array_distinct(transform("
            f"sequence(0, size(_w)-{n}), i -> {gram}"
            f")) ELSE array() END"
        )
    return base.select(F.col("id"), F.expr(sh).alias("shingles")).withColumn(
        "sz", F.size("shingles")
    )


def word_shingles(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shingle) — distinct word n-grams per document. Narrow map +
    explode; the distinct is per-document (array_distinct, no shuffle).

    explode_outer + null-filter instead of explode: plain explode makes
    the optimizer infer a `size(input) > 0 AND isnotnull(input)` filter
    and push it below the projection, re-evaluating the whole shingle
    HOF expression twice per row in interpreted mode (measured 15×
    slower). The outer variant infers nothing; the null-filter on the
    OUTPUT column is codegen-cheap."""
    return (
        word_shingle_sets(docs, n, id_col, text_col)
        .select("id", F.explode_outer("shingles").alias("shingle"))
        .filter(F.col("shingle").isNotNull())
    )


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate groups: one row per distinct text with the kept
    (minimum) id and the duplicate count. groupBy on the text hash —
    a single map-side-combined hash aggregate."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("_k"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("dup_count"),
        )
        .drop("_k")
    )


def _pair_jaccard(sets: DataFrame, max_shingle_df: int | None) -> DataFrame:
    """(doc_a, doc_b, inter, union) for all pairs sharing ≥1 shingle.

    Takes the (id, shingles, sz) set table from word_shingle_sets and
    carries each document's set size THROUGH the explode, so the whole
    computation is one shuffle join (on the shingle key) plus one hash
    aggregate keyed on (pair, sz_a, sz_b) — no separate sizes table and
    no per-side size re-join (round 1 used 5 shuffles here).

    With max_shingle_df, ultra-frequent shingles are dropped from BOTH
    the intersection and the sizes (sz is recomputed post-filter), so
    inter/union stay consistent — this bounds the join fan-out on
    web-scale corpora where stop-shingles would otherwise dominate.

    The cap is enforced by ANTI-joining the over-cap complement: rare
    shingles dominate any real corpus, so the keep side is nearly the
    whole distinct-shingle set (unbroadcastable at scale), while the
    shingles with df > cap are few by construction — that tiny DROP set
    is the broadcastable side.
    """
    # explode_outer: see word_shingles — plain explode infers a pushed-
    # down filter that re-evaluates the shingle HOF twice per row.
    ex = sets.select(
        "id", "sz", F.explode_outer("shingles").alias("shingle")
    ).filter(F.col("shingle").isNotNull())
    if max_shingle_df is not None:
        freq = ex.groupBy("shingle").agg(F.count("*").alias("df"))
        drop = freq.filter(F.col("df") > max_shingle_df).select("shingle")
        ex = (
            ex.join(F.broadcast(drop), "shingle", "left_anti")
            .withColumn("sz", F.count("*").over(_id_window()))
        )
    a = ex.alias("a")
    b = ex.alias("b")
    return (
        a.join(b, "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.count("*").alias("inter"))
        .withColumn("union", F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    )


def _id_window():
    from pyspark.sql import Window

    return Window.partitionBy("id")


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: tuple[int, int] = (1, 2),
    id_col: str = "doc_id",
    text_col: str = "text",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b) with shingle-Jaccard ≥ p/q (threshold=(p, q)).

    Exact: q·inter ≥ p·union over distinct word n-grams. The shingle
    self-join shuffles on the shingle key; skew from ultra-common
    shingles is bounded with max_shingle_df (AQE skew-join as backstop).
    """
    p, q = threshold
    pairs = _pair_jaccard(
        word_shingle_sets(docs, n, id_col, text_col), max_shingle_df
    )
    return pairs.filter(q * F.col("inter") >= p * F.col("union")).select(
        "doc_a", "doc_b"
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 16,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, h0..h{k-1}) MinHash signature over word n-gram shingles.

    ONE md5 per shingle: each shingle is hashed once to a 60-bit base
    value; the k permutations are cheap rotate-xor mixes of that base
    (bijective on 60 bits, so each min is a valid MinHash under a
    distinct permutation). Docs with no shingles (< n words) are
    dropped. See _signatures_from_sets for the measured engine choice.
    """
    sets = word_shingle_sets(docs, n, id_col, text_col, drop_short=True)
    return _signatures_from_sets(sets, num_hashes)


_M60 = (1 << 60) - 1


def minhash_mix_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (rotation, xor-constant) per permutation — the
    constants are md5-derived so Spark and the DuckDB oracle agree."""
    import hashlib

    out = []
    for i in range(num_hashes):
        r = (i * 17 + 3) % 59 + 1  # 1..59, never 0
        c = int(hashlib.md5(f"clp-minhash-{i}".encode()).hexdigest()[:15], 16)
        out.append((r, c))
    return out


def _mix_sql(h: str, r: int, c: int, xor_fn: str = "^") -> str:
    """60-bit rotate-left by r then xor c. The pre-shift mask keeps the
    product below 2^60 so bigint shifts never overflow (same algebra in
    Spark SQL and DuckDB; DuckDB spells xor as a function)."""
    lo_mask = (1 << (60 - r)) - 1
    rot = f"(shiftleft({h} & {lo_mask}, {r}) | shiftright({h}, {60 - r}))"
    if xor_fn == "^":
        return f"({rot} ^ {c})"
    return f"{xor_fn}({rot}, {c})"


def _signatures_from_sets(sets: DataFrame, num_hashes: int) -> DataFrame:
    """(id, h0..h{k-1}) from a (id, shingles, sz) set table.

    Engine choice (A/B-measured at sf0.1, 32 cores): explode + one md5 +
    k codegen'd min-aggregates = 1.76s cold / 0.70s warm, vs the
    higher-order-function shape (transform + array_min per permutation,
    evaluated interpreted — the trap tokenizer.py:14-21 documents) =
    2.99s cold / 0.61s warm. The explode adds one shuffle on id, but
    map-side partial aggregation reduces it to ~one row per id per map
    partition, so shuffle volume is n_docs × k longs — fine at scale.
    """
    ex = sets.select("id", F.explode_outer("shingles").alias("s")).filter(
        F.col("s").isNotNull()
    )
    ex = ex.withColumn("h", F.expr(_h60("s", 0)))
    aggs = [
        F.min(F.expr(_mix_sql("h", r, c))).alias(f"h{i}")
        for i, (r, c) in enumerate(minhash_mix_params(num_hashes))
    ]
    return ex.groupBy("id").agg(*aggs)


def minhash_lsh_pairs(
    docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    threshold: tuple[int, int] = (1, 2),
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket_size: int = 256,
) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH + exact Jaccard verification.

    Candidate pairs share at least one of `bands` band-hashes (classic
    shingle→minhash→band→bucket). The shingle-set frame is materialized
    ONCE (localCheckpoint — round 2 recomputed it 3×: signature + both
    verify sides; the storage is reclaimed when the plan is GC'd, unlike
    a .persist() pinned in the cache manager). Bucketing is one hash
    aggregate; pairs within a bucket of ≤ max_bucket_size ids expand
    with array algebra (O(k²) structs but bounded: cap²/2 per row), and
    OVERSIZED buckets — degenerate boilerplate clusters, *the* common
    case in web corpora — take a distributed self-join on the bucket key
    instead, which yields the identical pairs spread across rows rather
    than one O(k²) aggregation buffer (round 2 would OOM one executor on
    a 100k-id bucket here). Candidates are then verified with the exact
    integer Jaccard test, so output ⊆ ngram_jaccard_pairs and contains
    every pair LSH recalls.
    """
    if bands < 1 or num_hashes % bands != 0:
        # rows = num_hashes // bands silently drops remainder hashes
        # (recall differs from the requested parameters), and
        # bands > num_hashes gives rows=0 → every band hashes the empty
        # string → ONE global bucket → an O(n²) corpus cross-pairing
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes})"
        )
    rows = num_hashes // bands
    sets = word_shingle_sets(docs, n, id_col, text_col, drop_short=True)
    sets = sets.localCheckpoint(eager=False)
    sig = _signatures_from_sets(sets, num_hashes)
    band_cols = []
    for j in range(bands):
        cols = ", ".join(f"h{j * rows + r}" for r in range(rows))
        band_cols.append(
            F.expr(f"named_struct('band', {j}, 'bh', md5(concat_ws(',', {cols})))")
        )
    banded = sig.select(
        "id", F.explode(F.array(*band_cols)).alias("b")
    ).select("id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    buckets = (
        banded.groupBy("band", "bh")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    # all i<j index pairs within a small bucket; sorted ids ⇒ doc_a < doc_b
    pair_expr = (
        "flatten(transform(sequence(0, size(ids)-2), i -> "
        "transform(sequence(i+1, size(ids)-1), j -> "
        "named_struct('doc_a', ids[i], 'doc_b', ids[j]))))"
    )
    small_pairs = (
        buckets.filter(F.size("ids") <= max_bucket_size)
        .select(F.explode_outer(F.expr(pair_expr)).alias("p"))
        .filter(F.col("p").isNotNull())
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
    )
    # oversized buckets: re-flatten the member list (O(k) rows, each
    # carrying no array) and self-join on the bucket key — the classic
    # LSH candidate join, but only for the few degenerate buckets. Both
    # sides read the SAME shuffled aggregation output (ReusedExchange).
    big = buckets.filter(F.size("ids") > max_bucket_size).select(
        "band", "bh", F.explode("ids").alias("id")
    )
    big_pairs = (
        big.alias("a")
        .join(big.alias("b"), ["band", "bh"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
    )
    cand = small_pairs.union(big_pairs).distinct()
    # Verify ONLY candidate pairs, with NO second pair join: each side's
    # shingle SET (an array column) is joined onto the candidate pair by
    # id, and the exact Jaccard test is size(array_intersect(·,·)) —
    # per-pair codegen, O(candidates), never the full shingle-sharing
    # pair join LSH exists to avoid. AQE broadcasts the candidate side
    # when it is small, so the big set table is never shuffled twice.
    p, q = threshold
    sa = sets.select(
        F.col("id").alias("doc_a"),
        F.col("shingles").alias("sh_a"),
        F.col("sz").alias("sz_a"),
    )
    sb = sets.select(
        F.col("id").alias("doc_b"),
        F.col("shingles").alias("sh_b"),
        F.col("sz").alias("sz_b"),
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .filter(
            q * F.col("inter")
            >= p * (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
        )
        .select("doc_a", "doc_b")
    )


def simhash(
    docs: DataFrame,
    bits: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, simhash) — 60-bit SimHash over word tokens (occurrence-weighted).

    bit j of the fingerprint is set iff sum over tokens of
    ±1 (by bit j of the token hash) is positive. Explode words × bits,
    then two hash aggregates — all JVM-side.
    """
    words = spread(docs).select(
        F.col(id_col).alias("id"),
        F.explode(F.expr(f"split({text_col}, ' ')")).alias("w"),
    ).withColumn("h", F.expr(_h60("w", 7)))
    # one map-side-combined hash aggregate with `bits` sum columns — no
    # words×bits row blowup (the round-1 version shuffled 60× the rows)
    aggs = [
        F.sum(
            F.when(F.expr(f"(shiftright(h, {j}) & 1) = 1"), F.lit(1)).otherwise(
                F.lit(-1)
            )
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    per_doc = words.groupBy("id").agg(*aggs)
    fp = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN shiftleft(1L, {j}) ELSE 0L END)"
        for j in range(bits)
    )
    return per_doc.select("id", F.expr(fp).alias("simhash"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
    blocks: int = 4,
) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs with Hamming distance ≤ max_hamming.

    Scale path: pigeonhole blocking — the fingerprint's bits are
    partitioned into `blocks` contiguous chunks (covering ALL bits, with
    uneven sizes when blocks ∤ bits); a pair within distance
    ≤ max_hamming must agree exactly on ≥1 chunk whenever
    max_hamming < blocks, so candidates join on an exact chunk match
    instead of cross-joining. blocks is raised to max_hamming+1 when the
    caller's value would silently lose recall (the round-1 defaults
    did). Verified with bit_count(xor) — output is exact.

    Default max_hamming=3 keeps the pigeonhole selective: 4 blocks of
    15 bits ⇒ 2^15 join-key values per block. Large radii (e.g. the old
    default 12 ⇒ 13 blocks of 4–5 bits, ≤32 key values per block) make
    the candidate join approach n²/32 — pass them only on small inputs.
    """
    if blocks <= max_hamming:
        blocks = max_hamming + 1
    if blocks > bits:
        raise ValueError(
            f"max_hamming={max_hamming} needs blocks={blocks} > bits={bits}: "
            "pigeonhole blocking cannot guarantee recall; use a smaller "
            "max_hamming or brute force"
        )
    s = simhash(docs, bits, id_col, text_col)
    bounds = [j * bits // blocks for j in range(blocks + 1)]
    chunk_cols = [
        F.expr(
            f"named_struct('blk', {j}, 'cv', shiftright(simhash, {bounds[j]})"
            f" & {(1 << (bounds[j + 1] - bounds[j])) - 1})"
        )
        for j in range(blocks)
    ]
    blocked = s.select(
        "id", "simhash", F.explode(F.array(*chunk_cols)).alias("c")
    ).select("id", "simhash", F.col("c.blk").alias("blk"), F.col("c.cv").alias("cv"))
    a = blocked.alias("a")
    b = blocked.alias("b")
    return (
        a.join(b, ["blk", "cv"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.expr("bit_count(a.simhash ^ b.simhash)").alias("hamming"),
        )
        # hamming is deterministic per pair, so filtering BEFORE the
        # distinct is identical output — and the distinct's shuffle
        # then carries only near pairs instead of every block-collision
        # candidate (each duplicated up to `blocks` times); candidate
        # rejection is most of this stage's traffic on web corpora
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _cc_driver(spark, upairs: DataFrame, n_pairs: int):
    """Collected-edge connected components: vertices rank-encoded by
    sorted unique value (min rank ↔ min value, so reps match the
    distributed engine exactly for any orderable id type — numpy object
    arrays of str compare by code point, which equals Spark's UTF-8
    binary string order). Pointer jumping (`lab = lab[lab]`) halves
    label-tree depth every round, so convergence is O(log n) C-speed
    passes over the edge arrays, not O(diameter) Spark jobs."""
    import numpy as np

    if n_pairs == 0:
        return None
    pdf = upairs.toPandas()
    vals = np.concatenate(
        [pdf["doc_a"].to_numpy(), pdf["doc_b"].to_numpy()]
    )
    uniq, inv = np.unique(vals, return_inverse=True)
    src, dst = inv[:n_pairs], inv[n_pairs:]
    lab = np.arange(len(uniq), dtype=np.int64)
    while True:
        old = lab.copy()
        # pull the smaller label across each edge, both directions
        np.minimum.at(lab, src, lab[dst])
        np.minimum.at(lab, dst, lab[src])
        lab = np.minimum(lab, lab[lab])
        lab = np.minimum(lab, lab[lab])
        if np.array_equal(lab, old):
            break
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"id": uniq, "rep": uniq[lab]})
    )


def connected_components(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "id",
    max_iters: int = 50,
    driver_edge_cap: int = 5_000_000,
) -> DataFrame:
    """(id, rep) — connected components over a near-dup pair graph;
    rep = minimum doc id in the component (the canonical document a
    training-data dedup keeps).

    Two engines behind one result, the same cap-gated pattern as the
    dictionaries (dicts/build.py): the EDGE graph of a dedup run is
    tiny relative to the corpus (singletons never produce edges), so
    up to `driver_edge_cap` distinct pairs the components are solved
    driver-side with numpy pointer-jumping min-propagation — C-speed,
    O(log n) rounds, no per-round Spark job overhead. Above the cap the
    distributed HashToMin loop below takes over at full quality: every
    iteration joins current labels across edges and takes the min;
    converges in O(component diameter) rounds. Each round is one
    shuffle join + one aggregation; the loop is driver-side but all
    data stays distributed, and intermediate label frames are persisted
    then replaced (no lineage blow-up).

    The distributed iteration runs over EDGE-ENDPOINT vertices only: in
    a dedup graph almost every document is a singleton, and a
    singleton's label can never change — carrying all N ids through
    every round made each round O(N) instead of O(E + V_edges).
    Singletons join back in one final pass as their own rep.

    `pairs` needs (doc_a, doc_b); `all_ids` one row per document id in
    `id_col` (singletons become their own rep).
    """
    spark = pairs.sparkSession
    upairs = pairs.select("doc_a", "doc_b").distinct().persist()
    n_pairs = upairs.count()
    if n_pairs <= driver_edge_cap:
        labels = _cc_driver(spark, upairs, n_pairs)
        upairs.unpersist()
        if labels is None:  # no edges: everyone is a singleton
            return all_ids.select(
                F.col(id_col).alias("id"), F.col(id_col).alias("rep")
            )
        return all_ids.select(F.col(id_col).alias("id")).join(
            labels, "id", "left"
        ).select("id", F.coalesce("rep", F.col("id")).alias("rep"))
    edges = (
        upairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(upairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .persist()
    )
    upairs.unpersist()
    # both edge directions are present, so distinct src = every vertex
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("rep", F.col("id"))
        .persist()
    )
    for it in range(max_iters):
        # neighbor's current rep, pulled across each edge
        nbr = (
            edges.join(labels, edges.dst == labels.id, "inner")
            .select(F.col("src").alias("id"), F.col("rep").alias("nrep"))
            .groupBy("id")
            .agg(F.min("nrep").alias("nrep"))
        )
        stepped = labels.join(nbr, "id", "left").select(
            "id",
            F.least(
                F.col("rep"), F.coalesce(F.col("nrep"), F.col("rep"))
            ).alias("rep"),
            F.col("rep").alias("_old"),
        )
        # pointer jump (path halving): rep ← rep's own current rep.
        # Neighbor-min alone advances a long chain ONE hop per round
        # (O(diameter) rounds — a diameter-60 boilerplate chain would
        # exhaust max_iters and silently under-merge); the jump halves
        # remaining path lengths every round, making convergence
        # O(log diameter). rep is always a vertex in the frame (min of
        # self + neighbors), so the self-join is total; rep[r] ≤ r by
        # the same invariant, so least() just takes the jumped value
        # when present.
        jmp = stepped.select(
            F.col("id").alias("_jid"), F.col("rep").alias("_jrep")
        )
        # `_chg` marks rows whose rep strictly decreased this round; the
        # fixpoint is reached exactly when no row changed. Works for any
        # orderable id type (long, string URL, ...) — no numeric cast.
        new_labels = (
            stepped.join(jmp, stepped.rep == jmp._jid, "left")
            .select(
                "id",
                F.least(
                    F.col("rep"), F.coalesce(F.col("_jrep"), F.col("rep"))
                ).alias("rep"),
                (
                    F.least(
                        F.col("rep"),
                        F.coalesce(F.col("_jrep"), F.col("rep")),
                    )
                    < F.col("_old")
                ).alias("_chg"),
            )
        )
        if (it + 1) % 4 == 0:
            # cut lineage periodically so analysis cost stays bounded
            new_labels = new_labels.localCheckpoint(eager=False)
        new_labels = new_labels.persist()
        # the aggregation FULLY materializes the new persisted frame
        # before the old one is unpersisted — materializing lazily (e.g.
        # via limit(1)) would force a whole-chain recompute every round.
        changed = new_labels.agg(
            F.sum(F.col("_chg").cast("long")).alias("c")
        ).collect()[0]["c"]
        labels.unpersist()
        labels = new_labels
        if not changed:
            break
    else:
        # loop exhausted with changes still flowing: partial labels
        # would silently under-merge (duplicates kept). With path
        # halving this needs a component of diameter ~2^max_iters —
        # if it ever fires, something is wrong; fail loud, never wrong.
        edges.unpersist()
        labels.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "rounds; raise max_iters"
        )
    edges.unpersist()
    # singletons (ids with no near-dup edge) are their own rep
    return all_ids.select(F.col(id_col).alias("id")).join(
        labels.select("id", "rep"), "id", "left"
    ).select("id", F.coalesce("rep", F.col("id")).alias("rep"))


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: tuple[int, int] = (4, 5),
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | None = 8,
    dim: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b) with cosine similarity ≥ p/q, integer-exact.

    Embeddings are quantized (floor(x·scale+0.5)) so dot products and
    norms are integers; cos ≥ p/q becomes
    dot ≥ 0 ∧ q²·dot² ≥ p²·‖a‖²·‖b‖².

    The DEFAULT is the scale path (num_planes=8). num_planes=None is an
    explicit opt-in to exact all-pairs comparison (O(n²) — the plan is a
    BroadcastNestedLoopJoin; small inputs only). With num_planes=P the
    scale path runs: each vector lands in a
    random-hyperplane LSH bucket (deterministic md5-derived ±1 planes,
    same machinery as similarity.lsh_bucket_expr) and only same-bucket
    pairs are compared — the self-join keys on the bucket, so the plan
    is a hash join on 2^P groups, never a cartesian. Within-bucket
    results are exact; cross-bucket near-dups are traded for the n²→
    n²/2^P cost cut (standard near-dup practice; recall rises with
    fewer planes).
    """
    from clp_spark.textops.similarity import lsh_bucket_expr

    p, q = threshold
    quant = f"transform({vec_col}, x -> cast(floor(cast(x as double)*{scale}+0.5) as bigint))"
    cols = [
        F.col(id_col).alias("id"),
        F.expr(quant).alias("qv"),
        F.expr(f"aggregate({quant}, 0L, (acc, x) -> acc + x*x)").alias("nrm2"),
    ]
    if num_planes is not None:
        if dim is None:
            # the first NON-null embedding: a null leading row must not
            # turn the whole dedup into a silent no-op
            first = (
                emb.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
            )
            if first is None:
                # empty input (or no embedding at all): an upstream
                # filter may legitimately drain the frame — a dedup
                # stage must then be a no-op, not a crash
                from pyspark.sql import types as _T

                idt = emb.schema[id_col].dataType
                return emb.sparkSession.createDataFrame(
                    [],
                    _T.StructType(
                        [
                            _T.StructField("doc_a", idt),
                            _T.StructField("doc_b", idt),
                        ]
                    ),
                )
            dim = len(first[0])
        cols.append(F.expr(lsh_bucket_expr(vec_col, num_planes, dim, scale)).alias("blk"))
    qdf = emb.select(*cols)
    a = qdf.alias("a")
    b = qdf.alias("b")
    if num_planes is not None:
        pairs = a.join(b, "blk").filter(F.col("a.id") < F.col("b.id"))
    else:
        pairs = a.join(b, F.col("a.id") < F.col("b.id"))
    dot = F.expr("aggregate(zip_with(a.qv, b.qv, (x, y) -> x*y), 0L, (acc, v) -> acc + v)")
    return (
        pairs.withColumn("dot", dot)
        .filter(
            (F.col("dot") >= 0)
            & (
                F.lit(q * q) * F.col("dot") * F.col("dot")
                >= F.lit(p * p) * F.col("a.nrm2") * F.col("b.nrm2")
            )
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
    )


def _strip_dup_units(
    units: DataFrame, id_col: str, text_col: str, joiner: str
) -> DataFrame:
    """Shared tail of the span/paragraph dedup: given (id, _ord, _para)
    unit rows, keep a cross-document duplicate only in the smallest doc
    id, then reassemble each surviving document in unit order."""
    stats = units.groupBy("_para").agg(
        F.count("*").alias("_n"), F.min(id_col).alias("_keeper")
    )
    kept = (
        units.join(stats, "_para")
        .filter((F.col("_n") == 1) | (F.col(id_col) == F.col("_keeper")))
        .select(id_col, "_ord", "_para")
    )
    # joiner rides as a Column-op literal (F.array_join's delimiter is a
    # plain Python string), so separators containing quotes or backslashes
    # survive verbatim instead of breaking an interpolated expr string
    return (
        kept.groupBy(id_col)
        .agg(F.array_sort(F.collect_list(F.struct("_ord", "_para"))).alias("_a"))
        .select(
            id_col,
            F.array_join(
                F.transform("_a", lambda x: x["_para"]), joiner
            ).alias(text_col),
        )
    )


def strip_duplicated_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """Span-level exact dedup at paragraph granularity (the ExactSubstr
    dedup of Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better", restricted to paragraph boundaries — the
    shape web-corpus curation pipelines actually ship): a paragraph
    occurring in more than one document survives ONLY in the smallest
    doc id (deterministic at any parallelism) and is stripped everywhere
    else; unique paragraphs are untouched. Documents whose every
    paragraph was stripped drop out of the result.

    Scale shape: one explode -> one map-side-combined aggregate keyed on
    the paragraph -> join back -> per-document regroup. No driver
    collect, no quadratic candidate step; the only shuffles are the
    count aggregation and the regroup, both on keys with bounded skew
    (a paragraph duplicated across millions of docs still aggregates —
    the JOIN fans out only per occurrence, which is the output size).
    """
    # sep is a LITERAL separator (F.split takes a Java regex, so escape
    # it — "\n\n" is unaffected, but a "||" or "." separator would
    # otherwise silently split on the regex interpretation)
    import re as _re

    paras = docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), _re.escape(sep))
        ).alias("_ord", "_para"),
    )
    return _strip_dup_units(paras, id_col, text_col, sep)


def strip_duplicated_spans(
    docs: DataFrame,
    span_words: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ExactSubstr dedup over fixed-width word windows: the text splits
    into consecutive `span_words`-word chunks; a chunk occurring in more
    than one place survives only in the smallest doc id. Same
    keep-the-first contract and scale shape as
    strip_duplicated_paragraphs — for corpora without paragraph
    structure (single-line pages, OCR, logs)."""
    k = span_words
    # bind the split to a column so it runs once per row (inlining it in
    # the transform lambda re-splits per chunk — see word_shingle_sets)
    spans = docs.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_w")
    ).select(
        F.col(id_col),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(_w)/{k}.0) as int) - 1),"
                f" i -> array_join(slice(_w, i*{k}+1, {k}), ' '))"
            )
        ).alias("_ord", "_para"),
    )
    return _strip_dup_units(spans, id_col, text_col, " ")
