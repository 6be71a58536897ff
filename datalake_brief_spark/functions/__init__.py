"""Column-level helper functions (all JVM-side, codegen-friendly).

Everything here returns a ``pyspark.sql.Column`` built from built-in
functions — no Python UDFs — so whole-stage codegen keeps the hot path in
the JVM (the engine's rule: UDFs only where builtins can't express the
semantics, and then Arrow-vectorized; SURVEY §2.11).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from py4j.protocol import Py4JError
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# --- text -----------------------------------------------------------------

# Kept in sync with the duckdb oracle SQL (queries module): identical regexes,
# identical operation order, so results hash-match.
_WS = r"\s+"
_PUNCT_CLASS = r"[^\w\s]"


def normalize_text(col: Column | str) -> Column:
    """Lowercase + collapse whitespace + trim: the canonical form used by
    fingerprinting and dedup."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), _WS, " "))


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization of the normalized text → array<string>."""
    return F.split(normalize_text(col), " ")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(F.regexp_replace(c, r"[\w\s]", ""))


def word_ngram_array(tok: Column, n: int) -> Column:
    """Word n-gram array: position i → the n tokens starting at i joined by
    one space; docs shorter than ``n`` tokens yield an empty array.

    Built as a chain of ``zip_with(acc, shift_j(tok), concat)`` rather than
    ``transform(sequence(...), i -> slice(tok, i, n))``: a higher-order
    function evaluates its LAMBDA BODY once per element, so when ``tok`` is
    itself an expression (the usual ``split(regexp_replace(...))``
    tokenizer), the slice form re-tokenizes the document at every
    position — O(tokens²) regex work per doc (measured 11 s vs 0.4 s for
    the bigram case at sf0.1). ``zip_with`` evaluates its array ARGUMENTS
    once per row, and the repeated ``tok`` subtrees collapse under
    subexpression elimination. zip_with pads the shorter side with nulls,
    so tail positions (< n tokens left) null out and are filtered — never
    emitted as truncated grams."""
    acc = tok
    for j in range(1, n):
        shifted = F.slice(tok, j + 1, F.greatest(F.size(tok) - j, F.lit(0)))
        acc = F.zip_with(
            acc,
            shifted,
            lambda a, b: F.when(
                a.isNull() | b.isNull(), F.lit(None).cast("string")
            ).otherwise(F.concat(a, F.lit(" "), b)),
        )
    return F.filter(acc, lambda x: x.isNotNull())


def word_shingles(tok: Column, k: int) -> Column:
    """Word k-gram shingles from a token array, as array<string>: for a doc
    of n tokens produces max(n-k+1, 1) shingles — a doc shorter than ``k``
    contributes its whole token sequence as one shingle (so every doc has a
    non-empty set). Standard MinHash preprocessing (Broder 1997, "On the
    resemblance and containment of documents"). Built on the O(n)
    ``word_ngram_array`` chain, not per-position slices."""
    grams = word_ngram_array(tok, k)
    return F.when(F.size(grams) > 0, grams).otherwise(
        F.array(F.concat_ws(" ", tok))
    )


# --- scan parallelism -------------------------------------------------------


def spread_scan(df: "DataFrame") -> "DataFrame":
    """Repartition a narrow scan across the cluster when the source arrives
    in fewer splits than cores — otherwise every downstream scan-stage
    expression (tokenizers, regex suites) and Python batch operator
    (mapInPandas / pandas_udf) executes SERIALLY in the scan's only task
    (guide §2.6: stragglers/idle capacity; a one-row-group parquet file
    cannot be split by ``maxPartitionBytes``). At scale the input already
    has ≥ parallelism splits and this is a no-op, so the repartition never
    appears in a 100 TB plan.

    Apply to the RAW column projection, before any derived expression: an
    exchange sits above its child's projections, so spreading a computed
    column would still evaluate it serially in the scan task. The explicit
    partition count keeps AQE from coalescing the tiny exchange back to one
    partition (compute-bound stages want cores, not 64 MiB targets).
    """
    spark = df.sparkSession
    parallelism = spark.sparkContext.defaultParallelism
    try:
        # Plan-side split estimate: file count from the scan relation (cheap
        # driver metadata, no Python-RDD conversion). Splits ≥ files, so at
        # scale (many files) this correctly no-ops without ever touching
        # file sizes; a single small file → 1 < parallelism → spread.
        files = df.inputFiles()
    except Exception:
        n = df.rdd.getNumPartitions()
        return df.repartition(parallelism) if n < parallelism else df

    if len(files) >= parallelism:
        return df
    # Bytes-aware refinement (VERDICT r13 #3): FEW files does not mean few
    # splits — parquet is splittable, and a layout of few LARGE files (e.g.
    # 64 × 1 GB on a 256-core cluster) already yields ≥ parallelism scan
    # splits via maxPartitionBytes; blindly round-robin-shuffling the raw
    # payload there would cost a full extra pass the scan parallelizes for
    # free. Estimate splits as max(n_files, ceil(total_bytes / mpb)). The
    # size lookup runs ONLY on this < parallelism-file branch, so it is at
    # most parallelism−1 driver-side getFileStatus calls — never a listing
    # of a large table. Unknown sizes fall back to 0 (i.e. keep spreading,
    # today's behavior for the tiny single-file fixtures).
    try:
        jvm = spark._jvm  # noqa: SLF001
        hconf = spark._jsc.hadoopConfiguration()  # noqa: SLF001
        total = 0
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            total += p.getFileSystem(hconf).getFileStatus(p).getLen()
        mpb = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
        )
        n_splits = max(len(files), -(-total // max(mpb, 1)))
    except Exception:
        n_splits = len(files)
    if n_splits >= parallelism:  # so the JVM lookups above succeeded
        # Bytes are not rows: a parquet split reads only the row groups whose
        # midpoint falls in its byte range, so a file of one large row group
        # scans in ONE non-empty task however many splits its bytes make.
        # Cap the estimate by the footers' row-group count. Read only here,
        # on the few-files-but-"already parallel" branch (never for the
        # small single-split tables, which spread on the bytes alone), and
        # through the JVM's parquet reader, so any Hadoop filesystem works;
        # a non-parquet or unreadable file keeps the bytes estimate.
        try:
            row_groups = 0
            for f in files:
                p = jvm.org.apache.hadoop.fs.Path(f)
                reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
                    jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                        p, hconf
                    )
                )
                try:
                    row_groups += reader.getRowGroups().size()
                finally:
                    reader.close()
            n_splits = max(len(files), min(n_splits, row_groups))
        except Py4JError:
            pass
    if n_splits < parallelism:
        return df.repartition(parallelism)
    return df


# --- vectors --------------------------------------------------------------


def as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns via zip_with + aggregate —
    sequential left-to-right summation (deterministic, bit-stable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns."""
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# --- hashing --------------------------------------------------------------

# Mersenne prime 2^31-1: universal-hash modulus. 31-bit space keeps
# a*h+b < 2^62 so the expression never overflows int64 under ANSI mode
# (2^31 hash space is ample for MinHash collision behavior).
MINHASH_PRIME = (1 << 31) - 1


def shingle_hashes(shingles: Column) -> Column:
    """xxhash64 each shingle, folded into the MinHash prime field —
    array<long>. Compute this ONCE into its own projection: the string
    hashing is the expensive half of a MinHash signature, and keeping it in
    a separate select stops Catalyst from inlining (re-evaluating) it under
    each of the ``num_hashes`` minima (CollapseProject only inlines cheap or
    single-use expressions)."""
    return F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_PRIME)))


def minhash_from_hashes(hashed: Column, num_hashes: int, seed: int = 42) -> Column:
    """MinHash signature from pre-hashed shingles (see ``shingle_hashes``):
    array of ``num_hashes`` minima of universal hashes
    h_i(x) = (a_i * x + b_i) mod 2^31-1.

    Entirely expression-level (transform + array_min): no UDF, no shuffle —
    computed in the scan stage. Per row the cost is num_hashes passes of two
    integer ops over the hash array; the string hashing is paid once.
    """

    def _universal(a: int, b: int):
        # Closure factory: Spark introspects lambda arity, so the (a, b)
        # captures must not appear as parameters.
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_PRIME)

    sig = []
    for i in range(num_hashes):
        a = ((seed * 1000003 + i * 2654435761) % MINHASH_PRIME) | 1
        b = (seed * 777767777 + i * 40503) % MINHASH_PRIME
        sig.append(F.array_min(F.transform(hashed, _universal(a, b))))
    return F.array(*sig)


def minhash_values(shingles: Column, num_hashes: int, seed: int = 42) -> Column:
    """MinHash signature straight from a shingle array. Prefer the two-stage
    ``shingle_hashes`` → ``minhash_from_hashes`` split in operators: used
    inline, the xxhash64 pass is re-evaluated under every minimum."""
    return minhash_from_hashes(shingle_hashes(shingles), num_hashes, seed)


def _minhash_coeffs(num_hashes: int, seed: int) -> tuple[list[int], list[int]]:
    """The (a_i, b_i) universal-hash coefficients — shared by the expression
    and the vectorized implementations so their signatures are identical."""
    avs, bvs = [], []
    for i in range(num_hashes):
        avs.append(((seed * 1000003 + i * 2654435761) % MINHASH_PRIME) | 1)
        bvs.append((seed * 777767777 + i * 40503) % MINHASH_PRIME)
    return avs, bvs


def minhash_signature_udf(num_hashes: int, seed: int = 42):
    """Arrow-vectorized MinHash minima: array<long> shingle hashes →
    array<long> signature, numerically identical to ``minhash_from_hashes``
    (same coefficients, same mod-prime arithmetic; a*h < 2^62 so int64 never
    overflows).

    Why a pandas_udf here when the engine rule says builtins first: the
    expression form is ``num_hashes`` higher-order transforms — for 128
    hashes whole-stage codegen emits a method too large to JIT, so the JVM
    interprets it (measured 1.8-18 s for the same stage at sf0.1 depending
    on warmup). One numpy broadcast per row replaces ~128×|shingles|
    interpreted expression evals; the string hashing stays JVM-side in
    ``shingle_hashes``.
    """
    avs, bvs = _minhash_coeffs(num_hashes, seed)
    a = np.array(avs, dtype=np.int64)[:, None]
    b = np.array(bvs, dtype=np.int64)[:, None]
    empty = ((a[:, 0] * 0 + b[:, 0]) % MINHASH_PRIME).tolist()

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig(hashed: pd.Series) -> pd.Series:
        out = []
        for hs in hashed:
            if hs is None or len(hs) == 0:
                out.append(empty)
                continue
            h = np.asarray(hs, dtype=np.int64)[None, :]
            out.append(((a * h + b) % MINHASH_PRIME).min(axis=1).tolist())
        return pd.Series(out)

    return sig


def band_hashes(signature: Column, num_bands: int, rows_per_band: int) -> Column:
    """LSH banding: hash each band of the signature → array<long> of length
    ``num_bands`` (Leskovec/Rajaraman/Ullman, MMDS ch.3).

    Expression form for composing with JVM-computed signatures
    (``minhash_from_hashes``). When the signature already comes from the
    Arrow path, use ``minhash_band_udf`` instead: for b×r = 128 this array
    is ~160 sub-expressions — past codegen's JIT-friendly method size — and
    was measured at 4-14 s for 5k rows at sf0.1 (≈3 ms/row, interpreted),
    dominating the whole LSH pipeline."""
    return F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.element_at(signature, b * rows_per_band + r + 1).cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(num_bands)
        ]
    )


def minhash_band_udf(num_hashes: int, num_bands: int, seed: int = 42):
    """Arrow-vectorized MinHash + LSH banding fused in one pass: array<long>
    shingle hashes → array<long> of ``num_bands`` band hashes.

    Same minima as ``minhash_signature_udf`` (shared ``_minhash_coeffs``);
    the band combine is FNV-1a over each band's ``r`` minima (numpy uint64,
    vectorized across bands). Banding semantics are unchanged — two rows
    share a band hash iff all ``r`` minima in that band are equal (modulo a
    ~2^-64 hash collision) — only the combine function differs from the
    expression-form ``band_hashes``, so s-curve/recall behavior is
    identical. Fusing removes the giant banding expression from the plan:
    the per-band work becomes two uint64 ops instead of an interpreted
    concat/cast/hash tree (see ``band_hashes`` docstring for the measured
    cost it replaces).
    """
    assert num_hashes % num_bands == 0, "num_hashes must divide into bands"
    r = num_hashes // num_bands
    avs, bvs = _minhash_coeffs(num_hashes, seed)
    a = np.array(avs, dtype=np.int64)[:, None]
    b = np.array(bvs, dtype=np.int64)[:, None]
    _FNV_OFFSET = np.uint64(14695981039346656037)
    _FNV_PRIME = np.uint64(1099511628211)

    def _bands(mins: "np.ndarray") -> list:
        m = mins.astype(np.uint64).reshape(num_bands, r)
        with np.errstate(over="ignore"):
            h = np.full(num_bands, _FNV_OFFSET, dtype=np.uint64)
            for c in range(r):
                h = (h ^ m[:, c]) * _FNV_PRIME
        return h.view(np.int64).tolist()

    empty_sig = ((a[:, 0] * 0 + b[:, 0]) % MINHASH_PRIME).astype(np.int64)
    empty = _bands(empty_sig)

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def bands(hashed: pd.Series) -> pd.Series:
        out = []
        for hs in hashed:
            if hs is None or len(hs) == 0:
                out.append(empty)
                continue
            h = np.asarray(hs, dtype=np.int64)[None, :]
            mins = ((a * h + b) % MINHASH_PRIME).min(axis=1)
            out.append(_bands(mins))
        return pd.Series(out)

    return bands


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (e.g. SimHash)."""
    return F.bit_count(a.bitwiseXOR(b))
