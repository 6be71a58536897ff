"""Deduplication operators for training-data pipelines (SURVEY §2.14).

Four tiers, in increasing fuzziness — all shuffle-frugal:

- exact_dedup          — hash-groupBy on a normalized fingerprint (1 shuffle)
- ngram_jaccard_pairs  — EXACT Jaccard on word-shingle sets; candidates come
                         from MinHash-LSH banding by default (high-recall
                         bands, see below), so pair generation is linear in
                         candidates, never quadratic in a block. An explicit
                         candidates="all" mode keeps the all-pairs path for
                         ground truth on small inputs.
- minhash_lsh_pairs    — MinHash signatures + LSH banding (Broder 1997;
                         MMDS ch.3): candidate pairs from band-bucket join,
                         verified with exact Jaccard. Scales ~linearly: the
                         only shuffle is groupBy(band, hash) over docs.
- simhash_pairs        — 64-bit SimHash (Charikar 2002): token hashes are
                         computed JVM-side (xxhash64), only the bit-vote runs
                         in an Arrow-batched numpy pass; candidates from
                         16-bit chunk matches (pigeonhole: hamming<=3 → ≥1 of
                         4 chunks equal), verified with bit_count(xor).

At 100 TB: signatures are computed in the scan stage (pure expressions /
Arrow batches), candidate generation is one exploded groupBy-join on short
keys, and verification touches only candidate pairs — never the n² cross.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from datalake_brief_spark.functions import (
    MINHASH_PRIME,
    hamming64,
    minhash_band_udf,
    normalize_text,
    spread_scan,
    tokens,
    word_ngram_array,
    word_shingles,
)
from datalake_brief_spark.operators.windows import dedup_sorted


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one deterministic representative (lowest id) per distinct
    normalized text. Hash-groupBy semantics, single shuffle."""
    return dedup_sorted(
        df.withColumn("__fp", F.md5(normalize_text(text_col))),
        keys=["__fp"],
        order_by=[F.col(id_col)],
    ).drop("__fp")


def _spread(df: DataFrame) -> DataFrame:
    """Shared scan-spread helper (moved to functions.spread_scan in r13 so
    every operator family can use it); kept as an alias for the existing
    call sites and tests."""
    return spread_scan(df)


def _shingled(
    df: DataFrame, text_col: str, id_col: str, k: int, extra_cols: list[str] | None = None
) -> DataFrame:
    src = _spread(df.select(F.col(id_col), *[F.col(c) for c in (extra_cols or [])], F.col(text_col)))
    return src.select(
        F.col(id_col),
        *[F.col(c) for c in (extra_cols or [])],
        F.array_distinct(word_shingles(tokens(text_col), k)).alias("shingles"),
    )


def _hashed_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int, extra_cols: list[str] | None = None
) -> DataFrame:
    """(id, *extra, __hx): 64-bit-hashed distinct word-k-gram shingle sets.

    Set ops on fixed-width longs beat ~20-char string comparisons
    several-fold, and a 64-bit collision altering a Jaccard value needs
    ~2^32 distinct shingles. One xxhash64 pass feeds BOTH the exact-Jaccard
    verifier and (pmod-folded) the MinHash signature, so the string hashing
    is paid exactly once."""
    sh = _shingled(df, text_col, id_col, k, extra_cols=extra_cols)
    return sh.select(
        F.col(id_col),
        *[F.col(c) for c in (extra_cols or [])],
        F.array_distinct(F.transform("shingles", lambda s: F.xxhash64(s))).alias("__hx"),
    )


def _banded(
    hashed: DataFrame,
    id_col: str,
    block_cols: list[str],
    num_hashes: int,
    num_bands: int,
    seed: int,
) -> DataFrame:
    """(id, *block, band_idx, band_hash): MinHash band keys for LSH joins,
    repartitioned on the band keys (see _lsh_candidate_pairs for why)."""
    # Fold the 64-bit shingle hashes into the MinHash prime field JVM-side;
    # own select so Catalyst doesn't inline it under the signature UDF.
    folded = hashed.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.transform("__hx", lambda h: F.pmod(h, F.lit(MINHASH_PRIME))).alias("__mh_in"),
    )
    # Minima + banding fused in ONE Arrow pass (minhash_band_udf): the
    # expression-form band_hashes over a UDF signature was the pipeline's
    # dominant cost (interpreted ~3 ms/row — see its docstring).
    banded_arr = folded.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        minhash_band_udf(num_hashes, num_bands, seed=seed)(F.col("__mh_in")).alias("__bands"),
    )
    # posexplode_OUTER, deliberately: for a non-outer generate Catalyst's
    # InferFiltersFromGenerate adds `size(input)>0 AND isnotnull(input)` and
    # pushes it below the exchange — re-evaluating the whole UDF+shingle
    # expression tree a second time, serially, on the unspread scan
    # partition (measured 5-13 s of pure waste at sf0.1). The band array
    # always has exactly num_bands elements, so outer semantics are
    # identical and the inferred filter never exists.
    banded = banded_arr.select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.posexplode_outer("__bands").alias("band_idx", "band_hash"),
    )
    # Materialize ONE exchange on the band keys above the signature UDF:
    # a self-join's two sides then read the same shuffle output
    # (ReusedExchange), so the Arrow signature pass runs once instead of
    # per join side — measured 24% off the whole pipeline at sf0.1. The
    # column-only repartition stays AQE-coalescible, and hash-partitioning
    # on a subset of the join keys satisfies the join's distribution, so no
    # further exchange is added.
    return banded.repartition("band_idx", "band_hash")


def _lsh_candidate_pairs(
    hashed: DataFrame,
    id_col: str,
    block_cols: list[str],
    num_hashes: int,
    num_bands: int,
    seed: int,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs from MinHash-LSH banding over hashed
    shingle sets — the shared candidate generator for every Jaccard-family
    dedup path.

    Shape (the 100 TB contract): one Arrow-vectorized signature pass in the
    scan stage, one posexplode to ``num_bands`` short keys, one equi-join on
    (band_idx, band_hash, *block_cols). Candidates are linear in the number
    of truly-similar pairs (plus s-curve noise), never quadratic in a block.
    """
    banded = _banded(hashed, id_col, block_cols, num_hashes, num_bands, seed)
    lhs = banded.withColumnRenamed(id_col, "id_a")
    rhs = banded.withColumnRenamed(id_col, "id_b")
    return (
        lhs.join(rhs, on=["band_idx", "band_hash", *block_cols])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )


def _verify_exact_jaccard(
    candidates: DataFrame, hashed: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard over candidate pairs only: re-join the hashed shingle
    sets and filter. Precision is exact by construction; recall is the
    candidate generator's. The threshold applies to the UNROUNDED ratio
    (matching the SQL oracles' WHERE-on-raw / SELECT-rounded convention);
    rounding is an output-projection concern only.

    Join-shape note (r13 audit): at bench scale Catalyst broadcasts the two
    ``__hx`` relations and streams the tiny candidate list — the two
    shingle/hash passes then materialize CONCURRENTLY as broadcast-build
    futures, which A/B-measured faster (0.96 s vs 1.16 s at sf0.1) than
    forcing the candidates to be the build side; above the broadcast
    threshold the planner degrades to a shuffled join on its own, so the
    estimate-driven choice is also the scale-safe one. A candidate-id
    semi-join prune of the verify input was likewise tried and rejected
    (re-executes the banding join for the id broadcast: 1.02 s → 1.54 s).

    r14 audit: materializing ``hashed`` through one doc-keyed exchange that
    banding + both verify sides reuse (the bm25 §2.4 pattern) was built,
    verified (executed plan: 1 scan, 1 tokenization, 3 ReusedExchange) and
    REJECTED on in-session alternating A/B: 0.99→1.11 s coalesced, 0.81→1.10 s
    with an explicit non-coalescible partition count. The executed r13 plan
    already runs the signature UDF once (band-exchange reuse), already
    REUSES THE VERIFY BROADCAST across both id joins (one ReusedExchange of
    the BroadcastExchange), and its single extra tokenize pass rides an
    off-critical-path broadcast-build future — the shared exchange moved
    that cost ONTO the critical path as an extra stage barrier."""
    hx = hashed.select(F.col(id_col), F.col("__hx"))
    inter = F.size(F.array_intersect("__hx", "__hx_b")).cast("double")
    union = F.size(F.array_union("__hx", "__hx_b")).cast("double")
    return (
        candidates
        .join(hx.withColumnRenamed(id_col, "id_a"), "id_a")
        .join(hx.withColumnRenamed(id_col, "id_b").withColumnRenamed("__hx", "__hx_b"), "id_b")
        .withColumn("__j_raw", inter / union)
        .filter(F.col("__j_raw") >= threshold)
        .select("id_a", "id_b", F.round("__j_raw", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = None,
    k: int = 3,
    threshold: float = 0.8,
    candidates: str = "lsh",
    num_hashes: int = 128,
    num_bands: int = 32,
    seed: int = 42,
) -> DataFrame:
    """EXACT word-k-gram Jaccard ≥ threshold; candidate generation is
    pluggable:

    - ``candidates="lsh"`` (default): MinHash-LSH banding proposes pairs,
      exact Jaccard verifies. With b=32 bands of r=4 rows, candidate recall
      at Jaccard j is 1-(1-j^4)^32 — ≥ 1-5e-8 at j=0.8, so for any
      threshold ≥ 0.8 the output is exact-equal to all-pairs with
      near-certainty, at linear candidate cost. This is the 100 TB path: a
      hot block no longer means a quadratic self-join.
    - ``candidates="all"``: all pairs (within ``block_col`` if given, else
      the full cross). Quadratic — ground-truth/verifier mode for small
      inputs and tests only.

    ``block_col`` (e.g. ``source``) additionally restricts pairs to equal
    blocking keys in both modes.
    """
    extra = [block_col] if block_col is not None else []
    hashed = _hashed_shingles(df, text_col, id_col, k, extra_cols=extra or None)
    if candidates == "lsh":
        cand = _lsh_candidate_pairs(hashed, id_col, extra, num_hashes, num_bands, seed)
    elif candidates == "all":
        a = hashed.select(F.col(id_col).alias("id_a"), *[F.col(c) for c in extra])
        b = hashed.select(F.col(id_col).alias("id_b"), *[F.col(c) for c in extra])
        cand = (
            a.join(b, on=extra) if extra else a.crossJoin(b)
        ).filter(F.col("id_a") < F.col("id_b")).select("id_a", "id_b")
    else:
        raise ValueError(f"candidates must be 'lsh' or 'all', got {candidates!r}")
    return _verify_exact_jaccard(cand, hashed, id_col, threshold)


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_text: str = "text",
    right_text: str = "text",
    left_id: str = "doc_id",
    right_id: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    candidates: str = "lsh",
    num_hashes: int = 128,
    num_bands: int = 32,
    seed: int = 42,
) -> DataFrame:
    """Fuzzy JOIN of two relations by exact word-k-gram Jaccard ≥ threshold
    — record linkage / entity matching, the two-table generalization of
    ``ngram_jaccard_pairs``. Returns (id_a, id_b, jaccard) with id_a from
    ``left`` and id_b from ``right``.

    Scale shape: both sides run the SAME MinHash family (hash seeds, band
    layout), so a left and right row collide in a band bucket with the
    usual s-curve probability (recall 1-(1-j^r)^b); candidates come from
    the band equi-join ACROSS the two relations — cost linear in each
    side plus the truly-similar pairs, never the |L|·|R| cross — and
    exact Jaccard over the hashed shingle sets verifies candidates only.
    ``candidates="all"`` is the quadratic ground-truth mode for tests.
    """
    lh = _hashed_shingles(left, left_text, left_id, k).select(
        F.col(left_id).alias("id_a"), F.col("__hx").alias("__hx_a")
    )
    rh = _hashed_shingles(right, right_text, right_id, k).select(
        F.col(right_id).alias("id_b"), F.col("__hx").alias("__hx_b")
    )
    if candidates == "lsh":
        lb = _banded(
            lh.select("id_a", F.col("__hx_a").alias("__hx")),
            "id_a", [], num_hashes, num_bands, seed,
        )
        rb = _banded(
            rh.select("id_b", F.col("__hx_b").alias("__hx")),
            "id_b", [], num_hashes, num_bands, seed,
        )
        cand = (
            lb.join(rb, on=["band_idx", "band_hash"])
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
    elif candidates == "all":
        cand = lh.select("id_a").crossJoin(rh.select("id_b"))
    else:
        raise ValueError(f"candidates must be 'lsh' or 'all', got {candidates!r}")
    inter = F.size(F.array_intersect("__hx_a", "__hx_b")).cast("double")
    union = F.size(F.array_union("__hx_a", "__hx_b")).cast("double")
    return (
        cand.join(lh, "id_a")
        .join(rh, "id_b")
        .withColumn("__j_raw", inter / union)
        .filter(F.col("__j_raw") >= threshold)
        .select("id_a", "id_b", F.round("__j_raw", 6).alias("jaccard"))
    )


def build_dedup_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 128,
    num_bands: int = 32,
    seed: int = 42,
) -> None:
    """Materialize the LSH dedup index for INCREMENTAL near-dup detection:
    ``{path}/signatures`` holds (id, band_idx, band_hash) MinHash band
    keys, ``{path}/shingles`` the hashed shingle sets for exact verify.
    At 100 TB a daily increment must never re-LSH the whole corpus — the
    index is written once and each increment only reads it (see
    incremental_dedup)."""
    import os

    hashed = _hashed_shingles(df, text_col, id_col, k)
    banded = _banded(hashed, id_col, [], num_hashes, num_bands, seed)
    banded.write.mode("overwrite").parquet(os.path.join(path, "signatures"))
    hashed.select(id_col, "__hx").write.mode("overwrite").parquet(
        os.path.join(path, "shingles")
    )


def incremental_dedup(
    spark,
    new_df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    num_hashes: int = 128,
    num_bands: int = 32,
    seed: int = 42,
    update_index: bool = True,
) -> DataFrame:
    """Near-dup pairs INVOLVING the new batch — new×index plus new×new —
    against a build_dedup_index corpus, with exact-Jaccard verification.
    Pairs are canonicalized (id_a < id_b) so the result is insensitive to
    which side a document arrived on. Cost: the increment is shingled and
    banded ONCE; the existing corpus contributes only an equi-join against
    its materialized band keys — the index is never recomputed. Index
    maintenance (``update_index=True``) appends the increment's
    signatures/shingles so the next batch sees today's corpus.

    The index parameters (k, num_hashes, num_bands, seed) must match the
    ones the index was built with — band keys from different families
    never collide correctly."""
    import os

    sig_path = os.path.join(path, "signatures")
    sh_path = os.path.join(path, "shingles")
    idx_sig = spark.read.parquet(sig_path)
    idx_sh = spark.read.parquet(sh_path)
    new_hashed = _hashed_shingles(new_df, text_col, id_col, k)
    new_banded = _banded(new_hashed, id_col, [], num_hashes, num_bands, seed)
    cross = idx_sig.withColumnRenamed(id_col, "id_a").join(
        new_banded.withColumnRenamed(id_col, "id_b"), on=["band_idx", "band_hash"]
    )
    within = new_banded.withColumnRenamed(id_col, "id_a").join(
        new_banded.withColumnRenamed(id_col, "id_b"), on=["band_idx", "band_hash"]
    )
    cand = (
        cross.select("id_a", "id_b")
        .union(within.select("id_a", "id_b"))
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    all_sh = idx_sh.unionByName(new_hashed.select(id_col, "__hx"))
    # dropDuplicates: under at-least-once replay (streaming sink) a
    # replayed batch's signatures are in the index twice; duplicate
    # shingle rows would fan the verify join out into duplicate pair
    # rows. Pairs are small post-verify, so the dedup is cheap.
    pairs = _verify_exact_jaccard(cand, all_sh, id_col, threshold).dropDuplicates(
        ["id_a", "id_b"]
    )
    if update_index:
        new_banded.write.mode("append").parquet(sig_path)
        new_hashed.select(id_col, "__hx").write.mode("append").parquet(sh_path)
    return pairs


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.9,
    max_df: int | None = None,
) -> DataFrame:
    """One-sided shingle containment: C(a,b) = |S_a ∩ S_b| / min(|S_a|,
    |S_b|) ≥ threshold. Catches the case symmetric Jaccard structurally
    misses — a short document embedded verbatim in a much longer one has
    containment 1.0 but Jaccard ≈ |short|/|long| (far below any useful
    threshold), and MinHash-LSH candidates inherit that blindness because
    MinHash estimates Jaccard. The standard boilerplate/quotation/
    template-expansion detector in corpus curation.

    Shape: inverted index on the 64-bit hashed shingles (explode →
    (shingle, doc)), self-join on the shingle key, count shared shingles
    per pair, divide by the smaller set size. With ``max_df=None`` the
    count is EXACT (every shared shingle is counted once). A shingle
    appearing in d documents contributes d·(d-1)/2 pairs to the join, so at
    100 TB ``max_df`` caps the blow-up by dropping shingles more common
    than it (df-based prefix filtering, Xiao et al. 2008 PPJoin lineage):
    ubiquitous shingles carry no near-dup signal, and dropping one can only
    LOWER a pair's counted containment — precision survives, recall of
    pairs whose overlap is mostly stop-shingles degrades deliberately."""
    hashed = _hashed_shingles(df, text_col, id_col, k)
    sizes = hashed.select(F.col(id_col), F.size("__hx").alias("__n"))
    inv = hashed.select(F.col(id_col), F.explode("__hx").alias("__s"))
    if max_df is not None:
        rare = (
            inv.groupBy("__s")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
            .select("__s")
        )
        inv = inv.join(rare, "__s")
    a = inv.select(F.col(id_col).alias("id_a"), "__s")
    b = inv.select(F.col(id_col).alias("id_b"), "__s")
    shared = (
        a.join(b, "__s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    na = sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("__n", "__na")
    nb = sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("__n", "__nb")
    return (
        shared.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("__c_raw", F.col("__shared") / F.least("__na", "__nb"))
        .filter(F.col("__c_raw") >= threshold)
        .select("id_a", "id_b", F.round("__c_raw", 6).alias("containment"))
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = 64,
    num_bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs via MinHash + LSH banding, verified with exact Jaccard.

    Pipeline (3 shuffles total, each on small keys):
      1. scan: shingle-hash + Arrow-vectorized MinHash signature + band
         hashes (see minhash_signature_udf for why the minima are numpy)
      2. explode bands → self-join on (band_idx, band_hash) → candidate pairs
      3. dedup candidate pairs, re-join shingle-hash sets, exact-Jaccard
         filter

    The s-curve midpoint is (1/b)^(1/r): tune (num_bands, num_hashes) so the
    midpoint sits comfortably below ``threshold``.
    """
    hashed = _hashed_shingles(df, text_col, id_col, k)
    cand = _lsh_candidate_pairs(hashed, id_col, [], num_hashes, num_bands, seed)
    return _verify_exact_jaccard(cand, hashed, id_col, threshold)


def connected_components(
    edges: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list → (id, component),
    component = smallest node id reachable (deterministic canonical label).

    Min-label propagation with pointer jumping: each round every node takes
    the min label in its neighborhood, then labels are compressed by one
    label-of-label hop (pointer doubling), so convergence is O(log diameter)
    rounds — near-dup graphs (tiny, dense clusters) converge in 1-2. Each
    round is one join+groupBy on the node id plus one self-join on the label:
    all shuffles on the same key, no driver-side graph state (the only
    driver value is the changed-count). ``localCheckpoint`` truncates the
    iterative lineage so plans don't grow unboundedly.

    This is the standard MapReduce CC recipe (cf. Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond" — large-star/small-star;
    the min-label + pointer-jump variant has the same shuffle shape per
    round and is simpler to express in DataFrame ops).
    """
    e = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    e = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
    e = e.localCheckpoint()
    labels = (
        e.select(F.col("src").alias("id")).distinct().withColumn("comp", F.col("id"))
    )
    for _ in range(max_iterations):
        nbr_min = (
            e.join(
                labels.select(F.col("id").alias("dst"), F.col("comp").alias("nbr_comp")),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nbr_comp").alias("min_nbr"))
            .withColumnRenamed("src", "id")
        )
        stepped = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(F.col("comp"), F.coalesce(F.col("min_nbr"), F.col("comp"))).alias("comp"),
            (F.coalesce(F.col("min_nbr"), F.col("comp")) < F.col("comp")).alias("__changed"),
        )
        # pointer jumping: follow the label's own label one hop
        jumped = (
            stepped.alias("s")
            .join(
                stepped.select(
                    F.col("id").alias("comp"), F.col("comp").alias("comp2")
                ).alias("j"),
                "comp",
                "left",
            )
            .select(
                F.col("s.id").alias("id"),
                F.coalesce(F.col("j.comp2"), F.col("s.comp")).alias("comp"),
                F.col("s.__changed"),
            )
        )
        jumped = jumped.localCheckpoint()
        n_changed = jumped.filter(F.col("__changed")).count()
        labels = jumped.drop("__changed")
        if n_changed == 0:
            break
    return labels


def cluster_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    keep: str = "min",
) -> DataFrame:
    """Collapse near-duplicate PAIRS into a dedup decision: every doc gets a
    ``cluster_id`` (smallest doc id in its connected component; singletons
    cluster with themselves) and ``is_canonical`` marks the one row per
    cluster that survives dedup.

    ``pairs`` is any (id_a, id_b) near-dup relation — minhash_lsh_pairs,
    simhash_pairs, ngram_jaccard_pairs, or embedding_near_dup_pairs output.
    """
    comp = connected_components(pairs)
    out = df.join(
        comp.select(F.col("id").alias(id_col), F.col("comp").alias("cluster_id")),
        id_col,
        "left",
    ).withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col)))
    return out.withColumn("is_canonical", F.col(id_col) == F.col("cluster_id"))


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    weights: dict[str, int],
    id_col: str = "doc_id",
    out: str = "split",
    salt: str = "",
) -> DataFrame:
    """Cluster-aware train/val/test assignment: hash-split on the near-dup
    CLUSTER id rather than the document id, so two near-duplicate documents
    can never land on opposite sides of the train/eval boundary (the
    classic eval-leakage failure of naive per-doc splitting — a paraphrase
    of a test document in train inflates every benchmark it touches).

    ``pairs`` is any near-dup relation (MinHash/SimHash/Jaccard/embedding
    pairs); documents outside every pair form singleton clusters of
    themselves. The split inherits ``split_by_hash``'s contract:
    deterministic, growth-stable, engine-portable (md5), no shuffle beyond
    the component join. Returns ``df`` + ``cluster_id`` + ``out``."""
    from datalake_brief_spark.operators.relational import split_by_hash

    # cluster_dedup owns the component-join + singleton-fallback convention;
    # reuse it so the two call sites can never drift
    clustered = cluster_dedup(df, pairs, id_col=id_col).drop("is_canonical")
    return split_by_hash(clustered, "cluster_id", weights, out=out, salt=salt)


def cluster_dedup_by_score(
    df: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep-BEST dedup: same connected-components clustering as
    :func:`cluster_dedup`, but the canonical survivor per cluster is the
    row with the highest ``score_col`` (ties broken by smallest id) — the
    production policy ("keep the longest / highest-quality copy"), vs
    keep-min-id's arbitrary pick. One extra window over the cluster id;
    everything else identical."""
    comp = connected_components(pairs)
    out = df.join(
        comp.select(F.col("id").alias(id_col), F.col("comp").alias("cluster_id")),
        id_col,
        "left",
    ).withColumn("cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col)))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return out.withColumn("is_canonical", F.row_number().over(w) == 1)


_SIMHASH_BITS = 64


_SIMHASH_SHIFTS = np.arange(_SIMHASH_BITS, dtype=np.uint64)


@F.pandas_udf(T.LongType())
def _simhash_from_hashes(token_hashes: pd.Series) -> pd.Series:
    """64-bit SimHash bit-vote (Charikar 2002) over PRE-HASHED tokens: each
    token's 64-bit hash votes ±1 per bit position; the sign vector packs
    into the signature. The string hashing happens JVM-side (xxhash64 per
    token, see with_simhash) — this UDF is pure numpy bit arithmetic per
    Arrow batch, honoring the §2.11 no-per-row-Python-string-work rule."""
    out = np.zeros(len(token_hashes), dtype=np.int64)
    for i, hs in enumerate(token_hashes):
        if hs is None or len(hs) == 0:
            continue
        h = np.asarray(hs, dtype=np.int64).view(np.uint64)
        bits = ((h[:, None] >> _SIMHASH_SHIFTS) & np.uint64(1)).astype(np.int64)
        votes = (2 * bits - 1).sum(axis=0)
        sig_bits = (votes > 0).astype(np.uint64)
        out[i] = np.bitwise_or.reduce(sig_bits << _SIMHASH_SHIFTS).astype(np.int64)
    return pd.Series(out)


def with_simhash(df: DataFrame, text_col: str = "text", out: str = "simhash") -> DataFrame:
    """Append a 64-bit SimHash signature column.

    Token hashing is a scan-stage JVM expression (xxhash64 per token of the
    normalized text — duplicates kept: votes are term-frequency-weighted,
    same as the classic formulation); only the bit-vote crosses into Python,
    Arrow-batched."""
    toks = F.filter(tokens(text_col), lambda t: t != F.lit(""))
    hashed = F.transform(toks, lambda t: F.xxhash64(t))
    return df.withColumn(out, _simhash_from_hashes(hashed))


def _simhash_band_keys(max_hamming: int) -> tuple[list[tuple[int, int]], list[tuple[int, ...]]]:
    """Manku multi-block key layout for a 64-bit signature and distance
    budget ``d = max_hamming``: split into ``m = d + 3`` blocks, key on
    every C(m, m-d) combination of ``m - d`` blocks. Pigeonhole: d flipped
    bits touch ≤ d blocks, so ≥ m-d blocks are bit-identical — some
    combination matches exactly, and recall stays 1.0. Each key carries
    ≥ 64·(3/(d+3)) matched bits (32 for d=3), so random key collisions
    scale as n²/2^32, not the n²/2^16 of naive (d+1)-chunk pigeonholing —
    the difference between linear and quadratic candidates at corpus scale
    (Manku, Jain & Das Sarma 2007, "Detecting Near-Duplicates for Web
    Crawling" §3)."""
    from itertools import combinations

    m = max_hamming + 3
    base, extra = divmod(_SIMHASH_BITS, m)
    blocks, off = [], 0
    for i in range(m):
        width = base + (1 if i < extra else 0)
        blocks.append((off, width))
        off += width
    combos = list(combinations(range(m), m - max_hamming))
    return blocks, combos


def simhash_candidate_keys(
    sh: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Explode a (id, simhash) relation into its Manku multi-block join
    keys: one row per (combo_idx, combo_key) per doc, where combo_key
    packs the combo's block values into one long (≥32 matched bits at
    d=3). The single key builder behind ``simhash_pairs`` — the scale
    tooling reuses it so linearity evidence always measures the shipped
    generator, never a re-derivation."""
    blocks, combos = _simhash_band_keys(max_hamming)

    def block_val(i: int):
        off, width = blocks[i]
        return F.shiftrightunsigned(F.col("simhash"), off).bitwiseAND(
            F.lit((1 << width) - 1)
        )

    def combo_key(combo: tuple[int, ...]):
        key, shift = F.lit(0), 0
        for i in combo:
            key = key.bitwiseOR(F.shiftleft(block_val(i), shift))
            shift += blocks[i][1]
        return key

    return sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.posexplode(F.array(*[combo_key(c) for c in combos])).alias(
            "combo_idx", "combo_key"
        ),
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with SimHash hamming distance ≤ ``max_hamming``.

    Candidate generation is Manku-style multi-block (``_simhash_band_keys``):
    the signature splits into ``max_hamming + 3`` blocks and every
    ``3``-block combination becomes one ≥32-bit equi-join key, so recall
    is exactly 1.0 by pigeonhole while accidental key collisions stay
    ~n²/2^32 — linear in practice at corpus scale, where 16-bit chunk
    keys would go quadratic. C(d+3, 3) keys per doc (20 for d=3) is the
    constant-factor price, paid in the scan stage; the join itself is a
    bucketed equi-join, never all-pairs.

    The key relation is materialized as ONE exchange on the combo keys
    (r13, guide §2.4): the self-join's two sides then read the same
    shuffle output (runtime ReusedExchange), so the SimHash bit-vote UDF
    and the 20-way key explode run once instead of once per side —
    A/B-measured 0.79 s vs 0.93-1.04 s at sf0.1, identical pairs. Without
    it Catalyst broadcasts one side and re-evaluates the whole signature
    pipeline in the broadcast build; at corpus scale that broadcast is
    impossible and the planner would pay TWO full shuffles + two UDF
    passes for the sort-merge form, so the single keyed exchange is also
    the 100 TB shape. Hash-partitioning on a subset of the join keys
    satisfies the join's required distribution, so no further exchange is
    added, and the column-only repartition stays AQE-coalescible.

    NOT spread (r14 A/B): round-robin-spreading the scan before the
    signature pass measured 0.81 → 1.00 s at sf0.1 — the bit-vote UDF is
    ~20 µs/row (≈0.1 s serial over this corpus, one Python worker with
    large Arrow batches), cheaper than the extra exchange barrier plus
    32 small-batch worker dispatches the spread costs. At scale the scan
    arrives multi-split and the signature parallelizes for free. This A/B
    predates the engine's worker daemon (``worker_daemon.py``): every
    Python task then also re-read ``pyspark.zip`` 16 times, which taxed
    the spread side's many small tasks most, so it is due a re-run."""
    sh = with_simhash(df.select(id_col, text_col), text_col).select(id_col, "simhash")
    keys = simhash_candidate_keys(sh, id_col, max_hamming).repartition(
        "combo_idx", "combo_key"
    )
    lhs = keys.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "combo_idx", "combo_key"
    )
    rhs = keys.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "combo_idx", "combo_key"
    )
    return (
        lhs.join(rhs, on=["combo_idx", "combo_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", hamming64(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def repeated_spans(
    df: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_first: bool = False,
) -> DataFrame:
    """Maximal repeated token spans across the corpus — the scalable
    stand-in for suffix-array ExactSubstr dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): instead of
    removing whole near-duplicate documents, find the exact sub-document
    regions that recur verbatim in ``min_docs``+ distinct documents
    (boilerplate, licenses, templated passages) so a pipeline can excise
    just those spans.

    Returns one row per maximal span: ``(id_col, span_start, span_end,
    span_tokens)`` with 0-based inclusive token offsets into the normalized
    token sequence. A token position is covered iff some duplicated k-gram
    covers it; runs of overlapping/adjacent duplicated grams merge into one
    span (gaps-and-islands over gram start positions).

    Shape (the 100 TB contract — a suffix array over the corpus would need
    a global sort of every suffix; this is 4 linear keyed passes):

    1. gram extraction is a scan-stage JVM expression (O(n) ``zip_with``
       n-gram chain + xxhash64 — no Python, no per-position re-tokenize);
    2. document frequency is one partial+final aggregate keyed on the
       64-bit gram hash (map-side combine bounds shuffle rows by distinct
       grams per partition);
    3. duplicated-gram membership is an equi-join on the gram hash — the
       dup side is the HAVING-filtered aggregate, so Catalyst broadcasts
       it while its stats stay small and AQE flips to a shuffle join as
       the duplicated set grows with the corpus. The gram chain computes
       once per join side by design: materializing it through a
       gram-keyed exchange (the LSH ReusedExchange trick) shuffles the
       whole exploded gram stream and measured SLOWER (2.2 s vs 1.5 s at
       sf0.1) than re-running the scan-stage expressions;
    4. island-merging is one window per document (shuffle keyed on the doc
       id, state bounded by grams per doc).

    ``keep_first=True`` applies the ExactSubstr keep-one policy: a gram
    occurrence in the LOWEST doc id that contains it is not a hit, so the
    earliest document keeps each duplicated passage and only the later
    copies report spans (strip with this mode never loses content from the
    corpus). The per-gram min doc rides the same doc-frequency aggregate —
    no extra pass."""
    # posexplode_OUTER for the same reason as _lsh_candidate_pairs: a
    # non-outer generate gains an inferred `size(arr)>0` pre-filter that
    # re-evaluates the whole n-gram chain a second time. Docs shorter than
    # k tokens surface as one null gram row and are dropped by the cheap
    # post-explode filter instead.
    grams = (
        _spread(df.select(id_col, text_col))
        .select(
            F.col(id_col),
            F.posexplode_outer(word_ngram_array(tokens(text_col), k)).alias(
                "pos", "__g"
            ),
        )
        .filter(F.col("__g").isNotNull())
        .select(F.col(id_col), "pos", F.xxhash64("__g").alias("__gh"))
    )
    if min_docs == 2:
        # r14 (guide §2.3 — aggregate before you shuffle, and shuffle fewer
        # bytes): "≥2 distinct docs" ⟺ min(doc) ≠ max(doc), so the default
        # threshold needs NO count_distinct. The distinct aggregate plans
        # as FOUR HashAggregate levels (partial+final dedup keyed on
        # (gram, doc), then partial_count(distinct)+final); min/max alone
        # plan as the ordinary two-level partial+final with a two-long
        # combine state — half the aggregate levels over the exploded gram
        # stream (plan diff in plans/r14/dedup_repeated_spans_*.txt).
        # Identical result set (verified row-for-row at sf0.1, pinned in
        # tests/test_round14.py); local tie at this SF (0.842 vs 0.847 s),
        # the win is the scale shape. A window-over-gram-hash single-pass
        # variant (no join, one full gram shuffle + sort) was A/B-measured
        # worse (0.95 s) — the sort of the exploded gram stream costs more
        # than the probe side's second scan-stage eval.
        dup = (
            grams.groupBy("__gh")
            .agg(
                F.min(F.col(id_col)).alias("__min_doc"),
                F.max(F.col(id_col)).alias("__max_doc"),
            )
            .filter(F.col("__min_doc") != F.col("__max_doc"))
            .select("__gh", "__min_doc")
        )
    else:
        dup = (
            grams.groupBy("__gh")
            .agg(
                F.count_distinct(F.col(id_col)).alias("__df"),
                F.min(F.col(id_col)).alias("__min_doc"),
            )
            .filter(F.col("__df") >= min_docs)
            .select("__gh", "__min_doc")
        )
    hits = grams.join(dup, "__gh")
    if keep_first:
        hits = hits.filter(F.col(id_col) != F.col("__min_doc"))
    hits = hits.select(F.col(id_col), "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    brk = F.when(F.col("pos") > F.lag("pos").over(w) + k, F.lit(1)).otherwise(F.lit(0))
    spans = (
        hits.withColumn("__brk", brk)
        .withColumn(
            "__sid",
            F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy(id_col, "__sid")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k - 1).cast("long").alias("span_end"),
            (F.max("pos") - F.min("pos") + k).cast("long").alias("span_tokens"),
        )
        .drop("__sid")
    )
    return spans


def strip_repeated_spans(
    df: DataFrame,
    k: int = 5,
    min_docs: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_first: bool = False,
) -> DataFrame:
    """Excise every cross-corpus repeated span from the text — the
    remediation half of ExactSubstr dedup (Lee et al. 2022 *remove* the
    duplicated substrings rather than whole documents). ``keep_first=False``
    excises all occurrences — the conservative choice for boilerplate /
    license / template removal; ``keep_first=True`` is the paper's
    keep-one policy: the lowest-id document containing each duplicated
    passage keeps it, so no content vanishes from the corpus.

    Returns ``(id_col, clean_text, n_tokens_kept, n_tokens_removed)`` where
    ``clean_text`` is the normalized token sequence minus all tokens
    covered by a :func:`repeated_spans` span. Docs with no repeated span
    pass through with their normalized text intact.

    Scale shape: :func:`repeated_spans`'s four linear passes, plus one
    per-doc span-list aggregate and one doc-keyed equi-join back to the
    corpus (span side is a small fraction of docs — shuffle join, never a
    broadcast: it grows with the corpus). Token excision is a JVM
    higher-order ``filter`` with the position index against the per-row
    span array — no Python, no explode of the token stream."""
    spans = repeated_spans(
        df,
        k=k,
        min_docs=min_docs,
        text_col=text_col,
        id_col=id_col,
        keep_first=keep_first,
    )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    j = df.select(id_col, text_col).join(per_doc, id_col, "left")
    empty = F.array().cast("array<struct<span_start:bigint,span_end:bigint>>")
    sp = F.coalesce(F.col("__spans"), empty)
    toks = tokens(text_col)
    kept = F.filter(
        toks,
        lambda x, i: ~F.exists(
            sp,
            lambda s: (i.cast("long") >= s["span_start"])
            & (i.cast("long") <= s["span_end"]),
        ),
    )
    return j.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("clean_text"),
        F.size(kept).cast("long").alias("n_tokens_kept"),
        (F.size(toks) - F.size(kept)).cast("long").alias("n_tokens_removed"),
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """Edit-distance near-dup pairs — the complement of the set-similarity
    family (MinHash/Jaccard catch token swaps; Levenshtein catches typos
    within tokens): pairs with levenshtein ≤ ``max_dist`` among
    SHARED-TOKEN candidates. Blocking contract (both the filter and the
    guarantee): candidates must share ≥1 whitespace token AND differ in
    length by ≤ ``max_dist`` — the length filter is lossless
    (lev ≥ |len_a − len_b|); token blocking is the standard record-linkage
    trade (a pair whose EVERY token changed is not a candidate), stated
    so oracles replay it. ``max_df`` drops tokens appearing in more than
    that many records from the index (the hot-shingle cap from
    containment dedup) — at corpus scale a stop-token would otherwise
    quadratically dominate candidates. One token equi-join (inverted
    index), exact JVM levenshtein verify on candidates only.

    Scale shape (VERDICT r7 minor #5 + the hot-vocabulary case): every
    expensive step runs over the DISTINCT-TEXT SPECTRUM, never the
    record stream — a duplicate-heavy corpus (the interesting case for
    a dedup operator: TPC-H part names are 20k rows over ~250 distinct
    strings at sf0.1) collapses to its distinct texts BEFORE the
    inverted index, the candidate join, and the levenshtein verify, so
    candidate cost is Σ df² over distinct-text token frequencies (with
    a lossless (token, length-band) composite key splitting hot tokens
    further) and the levenshtein runs once per distinct PAIR OF TEXTS.
    Record-level pairs re-expand by two id joins at the end — work
    proportional to the OUTPUT (exact-dup groups contribute their
    C(n,2) pairs at dist 0 by a same-text self-join, never through the
    index). Same rows out as the naive per-record index; measured
    40 s → 2 s at sf0.1 on part names. The candidate joins carry
    (text-hash, length) only; texts ride to the verify once."""
    t = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    texts = (
        t.select("__t")
        .distinct()
        .select(
            "__t",
            F.xxhash64("__t").alias("__h"),
            F.length("__t").alias("__len"),
        )
    )
    tok = texts.select(
        "__h", "__len", F.explode(F.split("__t", " ")).alias("__w")
    )
    if max_df is not None:
        hot = tok.groupBy("__w").agg(F.count_distinct("__h").alias("__df"))
        tok = tok.join(
            F.broadcast(hot.filter(F.col("__df") <= max_df).select("__w")), "__w"
        )
    # lossless length banding: lev >= |Δlen|, so a partner within
    # max_dist of this length can only sit in these bands
    width = max_dist + 1
    a = tok.select(
        F.col("__w"),
        F.floor(F.col("__len") / width).alias("__band"),
        F.col("__h").alias("__ha"),
        F.col("__len").alias("__la"),
    )
    b = tok.select(
        F.col("__w"),
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor((F.col("__len") - max_dist) / width),
                    F.floor(F.col("__len") / width),
                    F.floor((F.col("__len") + max_dist) / width),
                )
            )
        ).alias("__band"),
        F.col("__h").alias("__hb"),
        F.col("__len").alias("__lb"),
    )
    # ``<=`` (not ``<``): two DISTINCT texts that collide on xxhash64
    # share __h, and a strict inequality would silently drop their
    # candidate pair (ADVICE r8). Equal-hash candidates survive to the
    # text join-back, where the true canonical order ``__ta < __tb``
    # dedups orientations and removes self-pairs — a collision can only
    # cost extra levenshtein work, never a missed pair.
    cand = (
        a.join(b, ["__w", "__band"])
        .filter(F.col("__ha") <= F.col("__hb"))
        .filter(F.abs(F.col("__la") - F.col("__lb")) <= max_dist)
        .select("__ha", "__hb")
        .distinct()
    )
    ta = texts.select(F.col("__h").alias("__ha"), F.col("__t").alias("__ta"))
    tb = texts.select(F.col("__h").alias("__hb"), F.col("__t").alias("__tb"))
    txt_pairs = (
        cand.join(ta, "__ha")
        .join(tb, "__hb")
        # hash-ordered candidates (__ha < __hb) pass in their single
        # orientation as before (downstream canonicalizes by id); the
        # equal-hash fan-out orders/dedups by the texts themselves
        .filter((F.col("__ha") < F.col("__hb")) | (F.col("__ta") < F.col("__tb")))
        .select(
            "__ta", "__tb", F.levenshtein("__ta", "__tb").alias("dist")
        )
        .filter((F.col("dist") <= max_dist) & (F.col("dist") > 0))
    )
    # expand distinct-text pairs to id pairs (cross groups: every combo,
    # canonically ordered by id)
    ga = t.select(F.col("__id").alias("__ia"), F.col("__t").alias("__ta"))
    gb = t.select(F.col("__id").alias("__ib"), F.col("__t").alias("__tb"))
    cross = (
        txt_pairs.join(ga, "__ta")
        .join(gb, "__tb")
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "dist",
        )
    )
    # exact duplicates: dist-0 pairs within each same-text group
    same = (
        ga.join(gb, F.col("__ta") == F.col("__tb"))
        .filter(F.col("__ia") < F.col("__ib"))
        .select(
            F.col("__ia").alias("id_a"),
            F.col("__ib").alias("id_b"),
            F.lit(0).alias("dist"),
        )
    )
    return cross.unionByName(same)
