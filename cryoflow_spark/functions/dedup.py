"""Deduplication operators: exact, MinHash-LSH, SimHash, n-gram Jaccard.

Design for 100 TB (BASELINE.json north_star; MinHash/LSH per the
classic Broder scheme, banding per Leskovec et al., *Mining of Massive
Datasets* ch. 3 — public algorithms):

- Everything stays JVM-side (``F.transform``/``F.aggregate``/``xxhash64``)
  except SimHash bit-voting, which uses a vectorized Arrow pandas_udf.
- Candidate generation is always *blocked* (LSH bands / pigeonhole
  chunks), never all-pairs: the only shuffles are on band/bucket keys.
- Survivor rule is "keep the smallest id in each near-dup pair" —
  one-pass, deterministic, no iterative connected components (documented
  approximation: transitive clusters keep their local minima).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Large prime < 2^31 for affine rehashing (public constant choice).
_MERSENNE_31 = (1 << 31) - 1


def char_kgrams(col, k: int):
    """Column: every stride-1 character ``k``-gram of ``col``, in order.

    One ``regexp_extract_all`` scan: a zero-width lookahead captures the
    ``k`` characters starting at each position, so an ``n``-char string
    costs O(n * k) — a per-position ``substring(text, i, k)`` instead
    re-walks the UTF-8 bytes from the start for every ``i``, O(n^2).
    The leading class refuses to start a gram on a low surrogate, so a
    supplementary code point is one character, exactly as Spark's
    ``length``/``substring`` count it. Strings shorter than ``k`` give
    ``[]``; null gives null.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    pattern = r"(?s)(?=([^\x{DC00}-\x{DFFF}].{%d}))" % (k - 1)
    return F.regexp_extract_all(col, F.lit(pattern), F.lit(1))


def shingle_set(text_col: str, k: int = 3):
    """Column: distinct character k-shingles of ``text_col`` (JVM-side).

    ``array_distinct`` over :func:`char_kgrams` (first-occurrence
    order), so shingling is one linear regex scan per row. A text
    shorter than ``k`` is its own single shingle (``[text]``, ``[""]``
    for the empty string) and null text gives ``[null]``.
    """
    text = F.col(text_col)
    return F.when(
        F.length(text) >= k, F.array_distinct(char_kgrams(text, k))
    ).otherwise(F.array(text))


def token_set(text_col: str):
    """Column: distinct whitespace tokens."""
    return F.array_distinct(
        F.array_remove(F.split(F.col(text_col), r"\s+"), "")
    )


def portable_base_hash(col):
    """Column: engine-portable 31-bit base hash (md5-derived).

    ``pmod(conv(substring(md5(s), 1, 8), 16, 10), 2^31-1)`` — every engine
    with md5 computes the identical value (DuckDB spelling:
    ``CAST('0x' || substring(md5(s), 1, 8) AS BIGINT) % 2147483647``),
    making MinHash signatures reproducible outside Spark and therefore
    oracle-checkable. ``xxhash64`` (the default) is ~3× faster JVM-side;
    use portable mode for cross-engine repro, audits, and oracles.
    """
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint"),
        F.lit(_MERSENNE_31),
    )


def portable_hash60(col):
    """Column: engine-portable 60-bit hash (top 15 md5 hex digits).

    60 bits keeps the value strictly positive in a signed 64-bit integer
    in every engine (no unsigned-wraparound mismatches); used by portable
    SimHash. DuckDB spelling:
    ``CAST('0x' || substring(md5(t), 1, 15) AS BIGINT)``.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _minhash_coeffs(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, _MERSENNE_31), rng.randrange(0, _MERSENNE_31))
        for _ in range(num_hashes)
    ]


def minhash_signature_from_hashes(hashes_col, num_hashes: int = 64, seed: int = 42):
    """Column: MinHash signature from a pre-reduced array<long> of base
    hashes (each already ``pmod(xxhash64(s), p)``).

    The i-th permutation is the affine rehash ``(a_i*h + b_i) mod p``;
    with h, a < 2^31 every intermediate stays < 2^62 — safe under ANSI
    arithmetic. Seeded constants make signatures deterministic across
    runs and executors.
    """
    mins = [
        F.array_min(
            F.transform(hashes_col, lambda h: F.pmod(a * h + b, F.lit(_MERSENNE_31)))
        )
        for a, b in _minhash_coeffs(num_hashes, seed)
    ]
    return F.array(*mins)


def minhash_signature(
    shingles_col,
    num_hashes: int = 64,
    seed: int = 42,
):
    """Column: array<long> MinHash signature of an array-of-string column.

    Convenience wrapper: reduces ``xxhash64`` base hashes then applies
    the affine family. When computing many signatures, materialize the
    base-hash array once (see ``minhash_dedup``) instead.
    """
    base = F.transform(
        shingles_col, lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_31))
    )
    return minhash_signature_from_hashes(base, num_hashes, seed)


def minhash_signature_vectorized(hashes_col, num_hashes: int = 64, seed: int = 42):
    """Column: MinHash signature via a numpy-vectorized Arrow pandas_udf.

    Produces the IDENTICAL signature as ``minhash_signature_from_hashes``
    (same affine family over the same base hashes) but computes all
    ``num_hashes`` minima in one numpy broadcast per document —
    Spark's higher-order-function lambdas are interpreted per element,
    which at 64 hashes × thousands of shingles per doc dominates the
    runtime; numpy does the same arithmetic two orders of magnitude
    faster. All int64 ops stay exact (values < 2^62).
    """
    from pyspark.sql.pandas.functions import pandas_udf

    coeffs = _minhash_coeffs(num_hashes, seed)
    a_vec = np.array([a for a, _ in coeffs], dtype=np.int64)
    b_vec = np.array([b for _, b in coeffs], dtype=np.int64)

    @pandas_udf("array<long>")
    def _sig(hash_arrays: pd.Series) -> pd.Series:
        out = []
        for hashes in hash_arrays:
            if hashes is None or len(hashes) == 0:
                # Match the JVM path (array_min over null/empty → null):
                # null-text documents get NO signature instead of all
                # sharing one constant signature (which would flag every
                # pair of empty docs as near-duplicates).
                out.append(None)
                continue
            h = np.asarray(hashes, dtype=np.int64)
            # (n_shingles, num_hashes) affine rehash, min over shingles.
            sig = (h[:, None] * a_vec[None, :] + b_vec[None, :]) % _MERSENNE_31
            out.append(sig.min(axis=0).tolist())
        return pd.Series(out)

    # The function is pure, but callers FILTER on its output (sig-null
    # rows leave the pipeline), and catalyst pushes such a filter below
    # the projection by duplicating the UDF — two ArrowEvalPython nodes,
    # the lower one additionally pushed below the small-scan fan-out
    # exchange so the whole shingle→md5→signature pass ran ONCE MORE on
    # a single core (optimization guide §4.4). Non-deterministic forbids
    # the duplication: one evaluation, above the spread.
    return _sig.asNondeterministic()(hashes_col)


def _band_explode(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    num_hashes: int,
    bands: int,
    portable: bool,
    carry_sig: bool,
) -> DataFrame:
    """One row per (doc, band): ``id_col, [sig_col,] band_idx, band_hash``.

    THE banding scheme — band ``i`` is signature slice
    ``[i*r+1, (i+1)*r]`` (r = num_hashes // bands), keyed raw (portable:
    list-equality joins reproducible in any engine) or ``xxhash64``-ed
    (engine mode). Shared by the self-join candidate generator and the
    incremental new-vs-corpus path so the two can never diverge.
    """
    rows_per_band = num_hashes // bands
    band_key = (lambda s: s) if portable else (lambda s: F.xxhash64(s))
    return df.select(
        F.col(id_col),
        *([F.col(sig_col)] if carry_sig else []),
        F.posexplode(
            F.array(
                *[
                    band_key(
                        F.slice(
                            F.col(sig_col), i * rows_per_band + 1, rows_per_band
                        )
                    )
                    for i in range(bands)
                ]
            )
        ).alias("band_idx", "band_hash"),
    )


def _lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    sig_col: str,
    num_hashes: int,
    bands: int,
    portable: bool = False,
    carry_sig: bool = False,
) -> DataFrame:
    """Candidate (id_a, id_b) pairs sharing at least one LSH band.

    Scale: explode to (band_idx, band_hash) keys → self-join on the band
    key. Bucket skew (a degenerate band shared by many docs) is the
    classic hazard; AQE skew-join handles moderate skew, and callers
    should raise ``bands``/``num_hashes`` if buckets degenerate.

    ``portable=True`` joins on the raw signature slice (array<long>)
    instead of its ``xxhash64`` — a few extra bytes per band key, but the
    candidate set is then reproducible in any engine (list equality).

    ``carry_sig=True`` additionally returns ``__sig_a``/``__sig_b`` (both
    sides' full signatures) and SKIPS the pair ``distinct()``: callers
    verify inline and dedup on the surviving side only, avoiding two
    signature join-backs (each a full re-evaluation of the signature
    pipeline). Cost: signatures ride the band-join shuffle — num_hashes
    longs × bands copies per doc (e.g. 8 KiB at 64×16), independent of
    corpus size, the standard space-for-shuffle LSH trade.
    """
    banded = _band_explode(
        df, id_col, sig_col, num_hashes, bands, portable, carry_sig
    )
    a = banded.alias("a")
    # shuffle_hash → ReusedExchange: the signature pipeline computes once.
    b = banded.hint("shuffle_hash").alias("b")
    joined = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_hash") == F.col("b.band_hash"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    )
    if carry_sig:
        return joined.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{sig_col}").alias("__sig_a"),
            F.col(f"b.{sig_col}").alias("__sig_b"),
        )
    return joined.select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
    ).distinct()


def _with_minhash_signature(
    df: DataFrame,
    text_col: str,
    num_hashes: int,
    shingle_size: int,
    portable: bool,
) -> DataFrame:
    """``df`` rows with non-null text, plus ``__shingles`` and ``__sig``.

    The shared signature pipeline of :func:`minhash_dedup` and
    :func:`minhash_dedup_incremental`: shingle → reduced base hashes
    (materialized once) → vectorized affine min-hash signature. Rows
    whose signature is null (empty shingle set) are filtered out — they
    can never be near-duplicates and would collide in band joins.
    """
    with_sets = df.filter(F.col(text_col).isNotNull()).withColumn(
        "__shingles", shingle_set(text_col, shingle_size)
    )
    base_hash = (
        portable_base_hash
        if portable
        else (lambda s: F.pmod(F.xxhash64(s), F.lit(_MERSENNE_31)))
    )
    with_base = with_sets.withColumn(
        "__h",
        F.transform(F.col("__shingles"), base_hash),
    )
    return (
        with_base.withColumn(
            "__sig", minhash_signature_vectorized(F.col("__h"), num_hashes)
        )
        .drop("__h")
        .filter(F.col("__sig").isNotNull())
    )


def with_minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    num_hashes: int = 64,
    shingle_size: int = 3,
    hash_mode: str = "engine",
    out_col: str = "minhash_sig",
) -> DataFrame:
    """Annotate every row with its MinHash signature (``array<long>``) —
    the PERSISTABLE dedup artifact.

    Store this column in the lake at ingest time and the n-th-dump
    pipeline never recomputes the corpus side again:
    :func:`minhash_dedup_incremental` accepts it via ``corpus_sig_col``
    (and ``new_sig_col``), turning steady-state ingestion cost from
    O(corpus shingling + hashing) per dump into O(read signatures).
    Signature parameters must match between producer and consumer —
    signatures from different ``num_hashes``/``shingle_size``/
    ``hash_mode`` settings never compare equal.

    Unlike the internal pipeline, ALL rows are kept: null text or an
    empty shingle set yields a NULL signature (such rows can never be
    near-duplicates; consumers filter them out of band joins).
    """
    if hash_mode not in ("engine", "portable"):
        raise ValueError(f"invalid hash_mode '{hash_mode}'")
    portable = hash_mode == "portable"
    base_hash = (
        portable_base_hash
        if portable
        else (lambda sh: F.pmod(F.xxhash64(sh), F.lit(_MERSENNE_31)))
    )
    hashes = F.when(
        F.col(text_col).isNotNull(),
        F.transform(shingle_set(text_col, shingle_size), base_hash),
    )
    return df.withColumn(
        out_col, minhash_signature_vectorized(hashes, num_hashes)
    )



def minhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    threshold: float = 0.8,
    verify: str = "estimate",
    hash_mode: str = "engine",
) -> DataFrame:
    """Remove near-duplicate rows via MinHash-LSH.

    Pipeline: shingle → signature → banded candidates → verify → drop the
    larger id of each verified pair.

    ``verify``:

    - ``"estimate"`` (default, the 100 TB path): the candidate's Jaccard
      is estimated as the fraction of agreeing signature components —
      O(num_hashes) per pair on the already-computed signatures, std-err
      ≈ sqrt(t(1-t)/num_hashes) (≈0.06 at 64 hashes).
    - ``"exact"``: true Jaccard on the full shingle sets — exact but
      costs O(|shingles|) per candidate pair; use when candidate volume
      is small or precision is critical.

    ``hash_mode``:

    - ``"engine"`` (default): ``xxhash64`` base hashes + hashed band
      keys — fastest JVM path.
    - ``"portable"``: md5-derived base hashes + raw-slice band keys —
      identical results reproducible in any engine (the mode the DuckDB
      oracle checks); ~2-3× more base-hash CPU.
    """
    from cryoflow_spark.core.session import tune_for_text_ops

    if hash_mode not in ("engine", "portable"):
        raise ValueError(f"invalid hash_mode '{hash_mode}'")
    portable = hash_mode == "portable"
    tune_for_text_ops(df.sparkSession)
    # Null-text rows never enter the signature/candidate pipeline (their
    # shingle array would be [NULL] and every null doc would share one
    # signature); they are all kept in the output. Base hashes are
    # materialized ONCE — the affine rehashes scan a ready long array
    # instead of re-hashing every shingle 64×.
    with_sig = _with_minhash_signature(
        df, text_col, num_hashes, shingle_size, portable
    )

    if verify == "estimate":
        # Signatures are tiny (num_hashes longs) — carry both sides
        # through the band join itself and verify INLINE, so the
        # signature pipeline is evaluated exactly once (band-join sides
        # share a ReusedExchange) instead of three times (candidates +
        # two sig join-backs). Duplicate candidate pairs from multi-band
        # collisions just re-evaluate a cheap zip_with; the only
        # pair-level dedup needed is on the surviving id_b set.
        sigs = with_sig.select(F.col(id_col), F.col("__sig"))
        candidates = _lsh_candidate_pairs(
            sigs, id_col, "__sig", num_hashes, bands,
            portable=portable, carry_sig=True,
        )
        agree = F.size(
            F.filter(
                F.zip_with("__sig_a", "__sig_b", lambda x, y: x == y),
                lambda m: m,
            )
        )
        verified = candidates.withColumn(
            "__jaccard_est", agree / F.lit(num_hashes)
        ).filter(F.col("__jaccard_est") >= threshold)
    elif verify == "exact":
        candidates = _lsh_candidate_pairs(
            with_sig, id_col, "__sig", num_hashes, bands, portable=portable
        )
        sets = with_sig.select(F.col(id_col), F.col("__shingles"))
        verified = (
            candidates.join(
                sets.withColumnsRenamed({id_col: "id_a", "__shingles": "__set_a"}),
                "id_a",
            )
            .join(
                sets.withColumnsRenamed({id_col: "id_b", "__shingles": "__set_b"}),
                "id_b",
            )
            .withColumn(
                "__jaccard",
                F.size(F.array_intersect("__set_a", "__set_b"))
                / F.size(F.array_union("__set_a", "__set_b")),
            )
            .filter(F.col("__jaccard") >= threshold)
        )
    else:
        raise ValueError(f"invalid verify mode '{verify}'")

    to_remove = verified.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(to_remove, on=id_col, how="left_anti")


def minhash_dedup_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    threshold: float = 0.8,
    hash_mode: str = "engine",
    corpus_sig_col: str | None = None,
    new_sig_col: str | None = None,
) -> DataFrame:
    """Drop rows of ``new_df`` that near-duplicate anything in
    ``corpus_df`` (cross-dump dedup: dedup a NEW crawl/batch against the
    corpus already ingested, without re-deduping the corpus itself).

    Same signature family, banding, and estimate-verify as
    :func:`minhash_dedup`, but the band join is new-vs-corpus instead of
    a self-join, and only new-side rows are ever removed. Dedup WITHIN
    the new batch is deliberately out of scope — run
    :func:`minhash_dedup` on the batch first; at 100 TB the corpus side
    is the big one and this keeps its pipeline one-pass (signatures are
    computed once per side, ride the band shuffle, and verify inline —
    no join-backs, the same ReusedExchange-free shape as the carry-sig
    self-join path).

    New-batch rows with null text or empty shingle sets are kept (they
    cannot match anything).

    ``corpus_sig_col`` / ``new_sig_col`` name PRECOMPUTED signature
    columns (from :func:`with_minhash_signature`, same num_hashes/
    shingle/hash settings) — that side skips shingling and hashing
    entirely and band-explodes the stored column. At steady state the
    corpus side should always be precomputed: the n-th dump then pays
    only for its own signatures plus the band join.
    """
    if hash_mode not in ("engine", "portable"):
        raise ValueError(f"invalid hash_mode '{hash_mode}'")
    portable = hash_mode == "portable"
    from cryoflow_spark.core.session import tune_for_text_ops

    tune_for_text_ops(new_df.sparkSession)

    def banded(df: DataFrame, side: str, sig_col: str | None) -> DataFrame:
        if sig_col is not None:
            sig = df.filter(F.col(sig_col).isNotNull()).select(
                F.col(id_col).alias(f"__id_{side}"),
                F.col(sig_col).alias(f"__sig_{side}"),
            )
        else:
            sig = _with_minhash_signature(
                df, text_col, num_hashes, shingle_size, portable
            ).select(
                F.col(id_col).alias(f"__id_{side}"),
                F.col("__sig").alias(f"__sig_{side}"),
            )
        return _band_explode(
            sig, f"__id_{side}", f"__sig_{side}", num_hashes, bands,
            portable, carry_sig=True,
        )

    pairs = banded(new_df, "new", new_sig_col).join(
        banded(corpus_df, "corpus", corpus_sig_col), ["band_idx", "band_hash"]
    )
    agree = F.size(
        F.filter(
            F.zip_with("__sig_new", "__sig_corpus", lambda x, y: x == y),
            lambda m: m,
        )
    )
    dupes = (
        pairs.filter(agree / F.lit(num_hashes) >= threshold)
        .select(F.col("__id_new").alias(id_col))
        .distinct()
    )
    return new_df.join(dupes, on=id_col, how="left_anti")


def simhash_column(text_col: str, n_bits: int = 64, hash_mode: str = "engine"):
    """Column: ``n_bits``-bit SimHash of whitespace tokens (vectorized
    pandas_udf).

    Bit-voting over per-token hash values is done in numpy (Arrow
    batches): unpack the bits, sum ±1 votes per bit, majority → bit set.
    The token hashes themselves are computed JVM-side first —
    ``xxhash64`` (64-bit, default) or the md5-derived 60-bit portable
    hash (``hash_mode="portable"``, reproducible in any engine).
    """
    from pyspark.sql.pandas.functions import pandas_udf

    if hash_mode == "portable" and n_bits > 60:
        raise ValueError("portable hash provides 60 bits; pass n_bits <= 60")

    @pandas_udf("long")
    def _simhash(hash_arrays: pd.Series) -> pd.Series:
        out = np.zeros(len(hash_arrays), dtype=np.int64)
        for i, hashes in enumerate(hash_arrays):
            if hashes is None or len(hashes) == 0:
                continue
            # int64 → uint64 reinterpret via view (np.asarray(...,
            # uint64) on negative ints is rejected by NumPy 2.x).
            h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
            bits = (
                (h[:, None] >> np.arange(n_bits, dtype=np.uint64)) & 1
            ).astype(np.int64)
            votes = (2 * bits - 1).sum(axis=0)
            # Accumulate in a Python int and wrap explicitly to int64 two's
            # complement — np.int64(uint64-with-bit-63) relies on C-cast
            # wraparound that NumPy 2.x rejects with OverflowError.
            sig = 0
            for j in np.nonzero(votes >= 0)[0]:
                sig |= 1 << int(j)
            out[i] = sig - (1 << 64) if sig >= (1 << 63) else sig
        return pd.Series(out)

    token_hash = (
        portable_hash60 if hash_mode == "portable" else (lambda t: F.xxhash64(t))
    )
    token_hashes = F.transform(token_set(text_col), token_hash)
    # Pure, but marked non-deterministic so filters inferred from the
    # downstream chunk-join keys are not pushed below the projection by
    # DUPLICATING the UDF (guide §4.4 — the minhash _sig fix; the plan
    # showed 4 _simhash evaluations for x16's one logical pass).
    return _simhash.asNondeterministic()(token_hashes)


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hamming_threshold: int = 3,
    hash_mode: str = "engine",
) -> DataFrame:
    """Remove near-duplicates whose SimHashes are within ``hamming_threshold``.

    Candidates by pigeonhole: partition the signature bits into
    ``hamming_threshold + 1`` contiguous chunks — any pair within the
    threshold shares at least one exact chunk (lossless), so the join key
    is (chunk_idx, chunk_value), never all-pairs. Verify with
    ``bit_count(xor)``. ``hash_mode="portable"`` uses 60-bit md5-derived
    token hashes, reproducible in any engine (oracle-checkable).
    """
    from cryoflow_spark.core.session import tune_for_text_ops

    tune_for_text_ops(df.sparkSession)
    n_bits = 60 if hash_mode == "portable" else 64
    n_chunks = hamming_threshold + 1
    # Contiguous chunk partition covering ALL n_bits even when n_chunks
    # doesn't divide them (chunk i spans [i*n/k, (i+1)*n/k) bits).
    bounds = [i * n_bits // n_chunks for i in range(n_chunks + 1)]

    # Null-text rows get no signature (kept in the output, never flagged):
    # their token hashes are NULL, which would collapse to the all-zero
    # signature and make every null doc a near-dup of every other.
    sigs = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        simhash_column(text_col, n_bits=n_bits, hash_mode=hash_mode).alias("__sim"),
    )
    chunks = sigs.select(
        id_col,
        "__sim",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("__sim"), bounds[i]).bitwiseAND(
                        F.lit((1 << (bounds[i + 1] - bounds[i])) - 1)
                    )
                    for i in range(n_chunks)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    a = chunks.alias("a")
    # shuffle_hash → ReusedExchange: SimHash UDF + chunking compute once.
    b = chunks.hint("shuffle_hash").alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.__sim").bitwiseXOR(F.col("b.__sim"))
            ).alias("__hamming"),
        )
        .filter(F.col("__hamming") <= hamming_threshold)
    )
    to_remove = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(to_remove, on=id_col, how="left_anti")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    threshold: float = 0.8,
    block_by: str | None = None,
    method: str = "count",
) -> DataFrame:
    """(id_a, id_b, jaccard) pairs with word-n-gram Jaccard ≥ threshold.

    Exact result either way; ``method`` picks the physical strategy:

    - ``"count"`` (default): inverted-index self-join on every gram,
      counting shared grams per pair in one shuffle+aggregate —
      ``jaccard = shared / (|A|+|B|-shared)`` needs no second pass over
      the gram arrays. One reused exchange; fastest when no gram is
      pathologically frequent.
    - ``"prefix"``: PPJoin/AllPairs prefix filtering (Bayardo et al.
      WWW'07) — index only the ``n - ceil(t*n) + 1`` first grams under a
      global hash order (lossless by pigeonhole), verify candidates with
      one exact set intersection. Indexes ~(1-t) of the grams, so the
      join side-steps quadratic blowup on high-frequency grams — prefer
      this when gram frequencies are skewed.

    ``block_by`` restricts comparisons to equal-block rows (e.g. a
    language or length-bucket column) — always pass it at scale.
    """
    from cryoflow_spark.core.session import tune_for_text_ops

    tune_for_text_ops(df.sparkSession)
    # Tokenize ONCE into a column before building grams: referencing a
    # split(...) expression inside the transform lambda would re-split the
    # whole text for every sequence index (O(len²) string work per doc).
    tokenized = df.select(
        F.col(id_col),
        F.array_remove(F.split(F.col(text_col), r"\s+"), "").alias("__toks"),
        *(
            [F.col(block_by).alias("__block")]
            if block_by
            else [F.lit(1).alias("__block")]
        ),
    )
    grams = F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(size(__toks) - {ngram - 1}, 1)),"
            f" i -> array_join(slice(__toks, i, {ngram}), ' '))"
        )
    )
    base = tokenized.select(
        F.col(id_col), grams.alias("__grams"), "__block"
    )

    if method == "count":
        sized = base.withColumn("__n", F.size("__grams"))
        index = sized.select(
            F.col(id_col), "__block", "__n", F.explode("__grams").alias("__gram")
        )
        # shuffle_hash: both sides shuffle on the same key with identical
        # subtrees, so the second Exchange becomes a ReusedExchange — the
        # gram pipeline runs ONCE (broadcast would recompute per side and
        # can't exist at 100 TB anyway).
        a = index.alias("a")
        b = index.hint("shuffle_hash").alias("b")
        shared_counts = (
            a.join(
                b,
                (F.col("a.__gram") == F.col("b.__gram"))
                & (F.col("a.__block") == F.col("b.__block"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                # Jaccard >= t forces t*max(|A|,|B|) <= min(|A|,|B|).
                & (
                    F.lit(threshold)
                    * F.greatest(F.col("a.__n"), F.col("b.__n"))
                    <= F.least(F.col("a.__n"), F.col("b.__n"))
                ),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.__n").alias("__na"),
                F.col("b.__n").alias("__nb"),
            )
            .agg(F.count(F.lit(1)).alias("__shared"))
        )
        return (
            shared_counts.withColumn(
                "jaccard",
                F.col("__shared")
                / (F.col("__na") + F.col("__nb") - F.col("__shared")),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
    if method != "prefix":
        raise ValueError(f"invalid method '{method}'")

    # PREFIX FILTERING (AllPairs / PPJoin family, Bayardo et al. WWW'07;
    # Xiao et al. — public algorithms): sort each gram set by a global
    # total order (hash order ≈ random, so prefixes are selective), index
    # only the first n - ceil(t*n) + 1 grams. Two sets with Jaccard >= t
    # MUST share a prefix gram under a common ordering (pigeonhole), so
    # candidate generation is lossless while the inverted-index self-join
    # shrinks ~(1-t)^2 vs indexing every gram. Candidates then get one
    # exact set-intersection verification.
    sized = base.withColumn("__n", F.size("__grams")).withColumn(
        "__sorted",
        F.transform(
            F.array_sort(
                F.transform(
                    "__grams",
                    lambda g: F.struct(F.xxhash64(g).alias("h"), g.alias("g")),
                )
            ),
            lambda s: s["g"],
        ),
    )
    prefix_len = F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")).cast(
        "int"
    ) + F.lit(1)
    # The exploded index stays NARROW (id, block, n, gram) — the gram
    # arrays would otherwise be duplicated per exploded row and dominate
    # the shuffle. Verification re-joins the compact per-id sets table.
    index = sized.select(
        F.col(id_col),
        "__block",
        "__n",
        F.explode(F.slice("__sorted", F.lit(1), prefix_len)).alias("__gram"),
    )
    # shuffle_hash: both sides of the self-join then shuffle on the same
    # key with identical subtrees, so the second Exchange becomes a
    # ReusedExchange — the expensive gram pipeline runs ONCE (a broadcast
    # join would recompute it per side, and can't exist at 100 TB anyway).
    a = index.alias("a")
    b = index.hint("shuffle_hash").alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.__gram") == F.col("b.__gram"))
            & (F.col("a.__block") == F.col("b.__block"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # Size filter: Jaccard >= t forces t*max(|A|,|B|) <= min(|A|,|B|).
            & (
                F.lit(threshold)
                * F.greatest(F.col("a.__n"), F.col("b.__n"))
                <= F.least(F.col("a.__n"), F.col("b.__n"))
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    sets = sized.select(F.col(id_col), "__sorted", "__n")
    verified = candidates.join(
        sets.withColumnsRenamed(
            {id_col: "id_a", "__sorted": "__set_a", "__n": "__na"}
        ),
        "id_a",
    ).join(
        sets.withColumnsRenamed(
            {id_col: "id_b", "__sorted": "__set_b", "__n": "__nb"}
        ),
        "id_b",
    )
    shared = F.size(F.array_intersect("__set_a", "__set_b"))
    return (
        verified.withColumn(
            "jaccard",
            shared / (F.col("__na") + F.col("__nb") - shared),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    threshold: float = 0.8,
    block_by: str | None = None,
    method: str = "count",
) -> DataFrame:
    """Remove the larger id of every n-gram-Jaccard near-dup pair."""
    pairs = ngram_jaccard_pairs(
        df, text_col, id_col, ngram, threshold, block_by, method
    )
    to_remove = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(to_remove, on=id_col, how="left_anti")


def _containment_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    ngram: int,
    threshold: float,
    block_by: str | None,
    min_grams: int,
) -> DataFrame:
    """Directed (id_a, id_b, __na, __nb, containment) where
    ``containment = |grams(A) ∩ grams(B)| / |grams(A)| >= threshold``.
    """
    from cryoflow_spark.core.session import tune_for_text_ops

    tune_for_text_ops(df.sparkSession)
    # Zero-token docs are excluded BEFORE gram building (symmetric, so
    # exchange reuse survives): the slice trick would otherwise give
    # them a synthetic '' gram and two empty docs would read as
    # mutually contained — the x40 empty-doc bug class.
    tokenized = df.select(
        F.col(id_col),
        F.array_remove(F.split(F.col(text_col), r"\s+"), "").alias("__toks"),
        *(
            [F.col(block_by).alias("__block")]
            if block_by
            else [F.lit(1).alias("__block")]
        ),
    ).filter(F.size("__toks") > 0)
    grams = F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(size(__toks) - {ngram - 1}, 1)),"
            f" i -> array_join(slice(__toks, i, {ngram}), ' '))"
        )
    )
    sized = tokenized.select(
        F.col(id_col), grams.alias("__grams"), "__block"
    ).withColumn("__n", F.size("__grams"))
    index = sized.select(
        F.col(id_col), "__block", "__n", F.explode("__grams").alias("__gram")
    )
    # Identical subtrees + shuffle_hash → the gram pipeline runs once and
    # the second Exchange is reused (same plan shape as Jaccard "count").
    # ONLY two-sided predicates may sit in the join condition: a
    # single-side predicate (like a.__n >= min_grams) would be pushed
    # into one subtree by Catalyst, desymmetrizing the sides and killing
    # the ReusedExchange — so min_grams filters AFTER the aggregation,
    # on the group key (pinned by tests/test_plans.py).
    a = index.alias("a")
    b = index.hint("shuffle_hash").alias("b")
    shared_counts = (
        a.join(
            b,
            (F.col("a.__gram") == F.col("b.__gram"))
            & (F.col("a.__block") == F.col("b.__block"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
            & (F.lit(threshold) * F.col("a.__n") <= F.col("b.__n")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.__n").alias("__na"),
            F.col("b.__n").alias("__nb"),
        )
        .agg(F.count(F.lit(1)).alias("__shared"))
    )
    # min_grams must stay FUSED with the (unpushable) containment
    # predicate: standing alone, `__na >= min_grams` is a single-side
    # constraint that Catalyst pushes through the aggregation into the
    # a-subtree — desymmetrizing the join sides and killing the
    # ReusedExchange (each side would re-run the whole gram pipeline).
    # least(c - t, __na - m) >= 0 ⟺ c >= t AND __na >= m, but is opaque
    # to predicate decomposition. Pinned by tests/test_plans.py.
    return (
        shared_counts.withColumn(
            "containment", F.col("__shared") / F.col("__na")
        )
        .filter(
            F.least(
                F.col("containment") - F.lit(float(threshold)),
                (F.col("__na") - F.lit(min_grams)).cast("double"),
            )
            >= F.lit(0.0)
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    threshold: float = 0.8,
    block_by: str | None = None,
    min_grams: int = 5,
) -> DataFrame:
    """Directed near-dup pairs by n-gram set CONTAINMENT: (id_a, id_b,
    containment) with ``|grams(A) ∩ grams(B)| / |grams(A)| >= threshold``
    — A is (mostly) contained in B.

    Symmetric Jaccard misses the commonest web-duplication shape: a
    short document swallowed whole by a longer one (quoted articles,
    boilerplate-wrapped reposts) has high containment but LOW Jaccard
    because the union is dominated by the big doc. Containment is the
    published fix (Broder's resemblance/containment pair, 1997).

    Same inverted-index plan as :func:`ngram_jaccard_pairs` ``count``
    mode — one reused exchange, one aggregation; the size bound
    ``|B| >= t*|A|`` prunes in the join. ``min_grams`` drops trivially
    contained tiny docs (|grams(A)| < min_grams) — raise it rather than
    lowering the threshold when short docs flood the output. Pass
    ``block_by`` at scale.
    """
    return _containment_counts(
        df, text_col, id_col, ngram, threshold, block_by, min_grams
    ).select("id_a", "id_b", "containment")


def containment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    threshold: float = 0.8,
    block_by: str | None = None,
    min_grams: int = 5,
) -> DataFrame:
    """Drop every doc contained (>= threshold) in a PREFERRED partner:
    one with more grams, or equal grams and a smaller id — deterministic
    and order-independent (the same anti-join keep rule as
    ``semantic_dedup``; no fixpoint chaining).
    """
    counts = _containment_counts(
        df, text_col, id_col, ngram, threshold, block_by, min_grams
    )
    dropped = (
        counts.filter(
            (F.col("__nb") > F.col("__na"))
            | ((F.col("__nb") == F.col("__na")) & (F.col("id_b") < F.col("id_a")))
        )
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    return df.join(dropped, on=id_col, how="left_anti")


def exact_dedup(
    df: DataFrame,
    subset: list[str] | None = None,
    keep_order_by: list[str] | None = None,
) -> DataFrame:
    """Exact dedup: full-row distinct, or deterministic survivor per key."""
    if not subset:
        return df.distinct()
    if not keep_order_by:
        return df.dropDuplicates(list(subset))
    from cryoflow_spark.core.schema_utils import order_exprs

    w = Window.partitionBy(*subset).orderBy(*order_exprs(keep_order_by))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, component) for the undirected graph given as an edge list.

    Min-label propagation: every node starts labeled with itself; each
    round a node takes the minimum label in its closed neighborhood;
    converged when no label changes. Converges in O(graph diameter)
    rounds — near-dup clusters are shallow (stars/chains), so a handful
    of rounds suffices; ``max_iter`` bounds the worst case.

    This is the driver-side-loop iterative pattern (each round = one
    shuffle join + aggregate, fully distributed; the driver only checks
    the convergence count). ``localCheckpoint`` truncates lineage each
    round so plans don't grow exponentially. Use downstream of
    ``*_pairs`` operators to turn near-dup PAIRS into CLUSTERS (one
    survivor per transitive group, not per pair).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_min"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                "component",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("new_component"),
            )
        )
        changed = updated.filter(
            F.col("new_component") != F.col("component")
        ).count()
        labels = updated.select(
            "node", F.col("new_component").alias("component")
        ).localCheckpoint()
        if changed == 0:
            break
    return labels


def connected_components_two_phase(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) via large-star/small-star alternation.

    The two-phase MapReduce connected-components algorithm (Kiveris et
    al., *Connected Components in MapReduce and Beyond*, SoCC 2014 —
    public algorithm): each round rewires edges toward neighborhood
    minima —

    - LARGE-STAR: every node's larger neighbors re-attach to the minimum
      of its closed neighborhood;
    - SMALL-STAR: every node and its smaller neighbors re-attach to the
      smallest of them.

    Converges to star graphs (every node points at its component's
    minimum) in O(log²) rounds worst-case and ~log(chain length) on
    chains — vs O(diameter) for plain min-label propagation
    (:func:`connected_components`), which this replaces as the scale
    path for deep/chain-shaped near-dup clusters. Per round: two
    groupBy-min shuffles + joins, lineage truncated with
    ``localCheckpoint``; the driver only sees a convergence count every
    SECOND round (one extra star round on a converged graph is cheaper
    than a per-round symmetric-difference job).

    Convergence is a true fixpoint test (symmetric difference of the
    edge sets — subset-only would accept a strictly-shrinking round).
    If ``max_iter`` is exhausted before the fixpoint, a warning is
    raised and the final mapping is still well-formed (one row per
    node) because labels are aggregated with groupBy-min; labels may
    then be finer than the true components (under-merged), never
    conflicting.

    Output labels are identical to :func:`connected_components` (the
    component id is the component's minimum node id).
    """
    # Checkpoint the RAW pair projection once: both derived tables below
    # (nodes and the deduped edge set) would otherwise each re-execute
    # the caller's pair GENERATOR — typically an n-gram Jaccard or
    # winnowing candidate pipeline that costs far more than the star
    # rounds themselves (measured on the x125 pipeline at sf0.1: the
    # generator ran 2-3x inside this function, ~2 s of its ~3.8 s).
    raw = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).localCheckpoint(eager=False)
    # Node set from the RAW pairs: a self-loop contributes a singleton
    # component (same semantics as plain label propagation and the
    # recursive-CTE formulation), even though it carries no connectivity.
    # Lazy checkpoints throughout: an EAGER localCheckpoint runs its own
    # count() job per round just to materialize, while the convergence
    # probe (every second round) materializes everything anyway —
    # switching the loop to eager=False removed one blocking job per
    # round (measured with the rest of this block: 4.9 s -> 3.7 s on
    # the x125/x140 pipeline at sf0.1).
    nodes = (
        raw.select(F.col("u").alias("node"))
        .unionByName(raw.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    edges = (
        raw.filter(F.col("u") != F.col("v"))
        .select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    converged = False
    # The star rounds iterate over the candidate-pair edge set — bounded
    # by the near-dup cluster structure, far below corpus scale — so the
    # loop's shuffle width derives from the edge count (AQE paused when
    # tiny: lazy builds then launch no jobs and each convergence probe
    # materializes the two rounds since the last one as a single job).
    from cryoflow_spark.core.session import bounded_iteration

    with bounded_iteration(pairs.sparkSession, edges.count()):
        for i in range(max_iter):
            # LARGE-STAR over symmetric neighborhoods: for each center u,
            # m = min(N(u) ∪ {u}); larger neighbors v > u re-attach to m.
            sym = edges.unionByName(
                edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            # least(min(v), u) on the GROUP KEY — a first() accumulator
            # for a value the key already holds is a needless agg buffer.
            mins = sym.groupBy("u").agg(F.min("v").alias("__mv")).select(
                "u", F.least(F.col("__mv"), F.col("u")).alias("m")
            )
            # No distinct here: min-aggregation tolerates duplicates and
            # the small-star output is distinct-ed below — the extra
            # exchange + aggregate per round bought nothing.
            large = (
                sym.join(mins, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .where(F.col("u") != F.col("v"))
            )
            # SMALL-STAR over downward edges (large-star output already
            # points big→small): u and all its smaller neighbors attach
            # to their min.
            mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
            with_min = large.join(mins2, "u")
            small = (
                with_min.select(F.col("v").alias("n"), F.col("m"))
                .unionByName(
                    with_min.select(F.col("u").alias("n"), F.col("m"))
                )
                .where(F.col("n") != F.col("m"))
                .select(F.col("n").alias("u"), F.col("m").alias("v"))
                .distinct()
                .localCheckpoint(eager=False)
            )
            prev = edges
            edges = small
            # Fixpoint test (symmetric difference — both sides are
            # distinct sets, so empty diff ⟺ set equality ⟺ the round is
            # a no-op). Run it only every second round: the diff is a
            # full extra job, while one redundant star round on an
            # already-converged (tiny, star-shaped) edge set is nearly
            # free.
            if i % 2 == 1 or i == max_iter - 1:
                diff = (
                    small.subtract(prev)
                    .unionAll(prev.subtract(small))
                    .count()
                )
                if diff == 0:
                    converged = True
                    break
    if not converged:
        import warnings

        warnings.warn(
            "connected_components_two_phase: max_iter="
            f"{max_iter} exhausted before convergence; labels may be "
            "finer than the true components (under-merged). Increase "
            "max_iter.",
            RuntimeWarning,
            stacklevel=2,
        )
    # groupBy-min keeps the mapping well-formed (exactly one row per
    # node) even if iteration stopped on a non-star edge set.
    star = edges.groupBy("u").agg(F.min("v").alias("component")).select(
        F.col("u").alias("node"), "component"
    )
    return (
        nodes.join(star, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("component"), F.col("node")).alias("component"),
        )
    )


def cluster_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
    algorithm: str = "two_phase",
    keep_order_by: list[str] | None = None,
) -> DataFrame:
    """Keep ONE row per transitive near-dup cluster.

    Fixes the per-pair survivor rule's blind spot: for a chain A~B~C the
    pairwise rule keeps A and (if (A,C) wasn't a pair) also C; clustering
    keeps only A. ``algorithm``: ``"two_phase"`` (default — log-rounds
    large-star/small-star) or ``"label_prop"`` (O(diameter) min-label
    propagation); both yield identical labels.

    Survivor policy: smallest id by default; ``keep_order_by`` (e.g.
    ``["quality_score DESC", "doc_id"]``) keeps the member that sorts
    FIRST instead — the curation-grade rule ("keep the best copy, not
    the oldest id"); ``id_col`` is always the final tiebreak so the
    choice is total. Costs one extra partitioned window over clusters
    vs the anti-join of the default path.
    """
    if algorithm == "two_phase":
        comp = connected_components_two_phase(pairs, max_iter=max_iter)
    elif algorithm == "label_prop":
        comp = connected_components(pairs, max_iter=max_iter)
    else:
        raise ValueError(f"invalid algorithm '{algorithm}'")
    if keep_order_by is None:
        losers = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col)
        )
        return df.join(losers, on=id_col, how="left_anti")
    from cryoflow_spark.core.schema_utils import order_exprs

    labeled = df.join(
        comp.select(F.col("node").alias(id_col), "component"),
        on=id_col,
        how="left",
    ).withColumn(
        "__comp", F.coalesce(F.col("component"), F.col(id_col))
    )
    w = Window.partitionBy("__comp").orderBy(
        *order_exprs(keep_order_by), F.col(id_col)
    )
    return (
        labeled.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__comp", "component")
    )


def minhash_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    threshold: float = 0.8,
    hash_mode: str = "engine",
    sample_fraction: "float | None" = None,
) -> DataFrame:
    """Quality audit of the MinHash-LSH ESTIMATE pipeline against exact
    shingle-set Jaccard ground truth — the dedup analogue of
    :func:`~cryoflow_spark.functions.similarity.recall_at_k`: search
    quality as a first-class dataset, so a bad band split, too few
    hashes, or an over-tight threshold surfaces in recorded artifacts,
    not just anecdotes.

    Predicted pairs: the exact pipeline :func:`minhash_dedup` uses to
    LINK near-duplicates (banded candidates, signature-agreement
    estimate >= threshold). True pairs: exact Jaccard >= threshold on
    the SAME shingle sets, computed by inverted-index counting (one
    shingle-keyed self-join with the pigeonhole size bound — never an
    all-pairs scan; the :func:`ngram_jaccard_pairs` "count" strategy
    applied to character shingles). Both sides therefore measure the
    same similarity on the same sets — the audit isolates exactly the
    LSH banding + estimation error.

    Output (ONE row):
    ``n_predicted, n_true, n_hit, precision, recall, f1`` —
    ``precision = hit/predicted`` (how many linked pairs are real),
    ``recall = hit/true`` (how many real pairs the bands + estimate
    caught; misses come from band non-collision AND estimate
    fluctuation), zeros divide to NULL. Integer counts + exact double
    divides: bit-identical across engines in portable hash mode.

    Scale: the predicted side is the production band join; the truth
    side is the inverted-index join whose cost is the audit's price —
    run it on a sampled or blocked slice at 100 TB (the estimate's
    std-err ≈ sqrt(t(1-t)/num_hashes) is corpus-independent, so a
    slice-level audit generalizes).
    """
    if hash_mode not in ("engine", "portable"):
        raise ValueError(f"invalid hash_mode '{hash_mode}'")
    if sample_fraction is not None and not 0 < sample_fraction <= 1:
        raise ValueError("sample_fraction must be in (0, 1]")
    if sample_fraction is not None and sample_fraction < 1:
        # The audit's price is the exact-truth inverted-index join (its
        # cost grows with the square of hot-shingle postings), and the
        # estimate's std-err ~ sqrt(t(1-t)/num_hashes) is
        # corpus-size-independent — so the production audit runs on a
        # deterministic md5-bucket slice and generalizes. Sampling DOCS
        # (not pairs) keeps both sides measuring the same corpus.
        from cryoflow_spark.functions.sampling import deterministic_sample

        df = deterministic_sample(df, id_col, float(sample_fraction))
    portable = hash_mode == "portable"
    with_sig = _with_minhash_signature(
        df, text_col, num_hashes, shingle_size, portable
    )
    sigs = with_sig.select(F.col(id_col), F.col("__sig"))
    candidates = _lsh_candidate_pairs(
        sigs, id_col, "__sig", num_hashes, bands,
        portable=portable, carry_sig=True,
    )
    agree = F.size(
        F.filter(
            F.zip_with("__sig_a", "__sig_b", lambda x, y: x == y),
            lambda m: m,
        )
    )
    pred = (
        candidates.withColumn("__est", agree / F.lit(num_hashes))
        .filter(F.col("__est") >= threshold)
        .select("id_a", "id_b")
        .distinct()
    )

    # The truth side needs only the shingle SETS — not the signature.
    # `_with_minhash_signature` keeps exactly the rows with a non-empty
    # shingle set (null text dropped, __sig null iff no shingles), so
    # rebuilding that frame without the signature UDF keeps the same
    # rows while sparing the truth branch the md5 base hashes and the
    # Python boundary entirely (guide §4.1: pass only what it needs).
    #
    # (Strategy note, measured at sf0.1: PPJoin prefix filtering — the
    # ngram_jaccard_pairs(method="prefix") shape, df-ascending order —
    # was tried and is a LOSS here: at threshold 0.5 on same-domain
    # char shingles the prefix is half of every set, candidate pairs
    # ≈ 800k vs ~300 true, and shipping shingle arrays to verify them
    # costs 2.5× the count-join it replaced. The inverted-index
    # count-join below is the better exact plan at low thresholds; its
    # postings² cost is why the operator is sample-bounded at scale.)
    sized = (
        df.filter(F.col(text_col).isNotNull())
        .withColumn("__shingles", shingle_set(text_col, shingle_size))
        .filter(F.size("__shingles") >= 1)
        .select(
            F.col(id_col),
            F.col("__shingles"),
            F.size("__shingles").alias("__n"),
        )
    )
    inv = sized.select(
        F.col(id_col), "__n", F.explode("__shingles").alias("__g")
    )
    a = inv.alias("a")
    b = inv.hint("shuffle_hash").alias("b")
    truth = (
        a.join(
            b,
            (F.col("a.__g") == F.col("b.__g"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # Jaccard >= t forces t*max(|A|,|B|) <= min(|A|,|B|).
            & (
                F.lit(threshold)
                * F.greatest(F.col("a.__n"), F.col("b.__n"))
                <= F.least(F.col("a.__n"), F.col("b.__n"))
            ),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.__n").alias("__na"),
            F.col("b.__n").alias("__nb"),
        )
        .agg(F.count(F.lit(1)).alias("__shared"))
        .filter(
            F.col("__shared").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("__shared"))
            .cast("double")
            >= F.lit(float(threshold))
        )
        .select("id_a", "id_b")
    )

    # ONE pass over each pair table: the three counts (predicted, true,
    # hit) fold out of a single full-outer join + 1-row aggregate.
    # Counting them separately consumed `pred` and `truth` twice each,
    # re-executing the full signature + band-join pipeline and the
    # inverted-index join (8 ArrowEvalPython nodes in the old plan).
    pj = pred.withColumn("__p", F.lit(1))
    tj = truth.withColumn("__t", F.lit(1))
    stats = (
        pj.join(tj, ["id_a", "id_b"], "full_outer")
        .agg(
            F.count("__p").cast("bigint").alias("n_predicted"),
            F.count("__t").cast("bigint").alias("n_true"),
            F.count(F.when(F.col("__p").isNotNull() & F.col("__t").isNotNull(), 1))
            .cast("bigint")
            .alias("n_hit"),
        )
    )
    p = F.when(
        F.col("n_predicted") > 0,
        F.col("n_hit").cast("double") / F.col("n_predicted").cast("double"),
    )
    r = F.when(
        F.col("n_true") > 0,
        F.col("n_hit").cast("double") / F.col("n_true").cast("double"),
    )
    return stats.select(
        "n_predicted",
        "n_true",
        "n_hit",
        p.alias("precision"),
        r.alias("recall"),
        F.when(
            p.isNotNull() & r.isNotNull() & ((p + r) > 0),
            F.lit(2.0) * p * r / (p + r),
        ).alias("f1"),
    )


def cross_source_duplication(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
    normalize: bool = True,
) -> DataFrame:
    """Pairwise source-level EXACT-duplication matrix — "which sources
    copy from each other": for every unordered source pair (a <= b,
    including the a = b diagonal), how many distinct document texts
    appear in both, plus each side's distinct-text count and the
    overlap coefficient ``shared / min(|a|, |b|)`` (6-decimal exact
    ratio). The dataset-card table that catches a mirror site, a
    re-crawled dump, or a licensing feed duplicated across sources
    BEFORE global dedup hides the provenance.

    ``normalize=True`` dedups on the lowercased whitespace-collapsed
    text (the x02 normalized key); ``False`` on the raw string.

    Output: ``(source_a, source_b, shared_texts, texts_a, texts_b,
    overlap_coeff)``; the diagonal rows carry each source's
    within-source duplicate-free text count (shared = texts = distinct
    texts of that source).

    Scale: texts collapse to (text-hash, distinct source set) — the
    per-hash state is bounded by |sources| (a config-sized constant),
    NEVER by duplicate count, so a boilerplate page in 10^8 docs is
    one row with its source set; the pair explode is |sources|² per
    hash worst-case and the final matrix is |sources|² rows. No
    all-pairs doc join exists anywhere.
    """
    text = F.col(text_col)
    if normalize:
        text = F.lower(F.regexp_replace(text, r"\s+", " "))
    pairs_per_hash = (
        df.filter(F.col(text_col).isNotNull() & F.col(source_col).isNotNull())
        .select(
            F.md5(text).alias("__h"), F.col(source_col).alias("__s")
        )
        .distinct()
        .groupBy("__h")
        .agg(F.array_sort(F.collect_set("__s")).alias("__srcs"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(__srcs, (a, i) ->"
                    " transform(slice(__srcs, i + 1, size(__srcs) - i),"
                    " b -> struct(a AS a, b AS b))))"
                )
            ).alias("__p")
        )
        .groupBy(
            F.col("__p.a").alias("source_a"), F.col("__p.b").alias("source_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_texts"))
    )
    per_source = (
        df.filter(F.col(text_col).isNotNull() & F.col(source_col).isNotNull())
        .select(F.md5(text).alias("__h"), F.col(source_col).alias("__s"))
        .distinct()
        .groupBy("__s")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    return (
        pairs_per_hash.join(
            F.broadcast(
                per_source.select(
                    F.col("__s").alias("source_a"),
                    F.col("__n").alias("texts_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                per_source.select(
                    F.col("__s").alias("source_b"),
                    F.col("__n").alias("texts_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "shared_texts",
            "texts_a",
            "texts_b",
            F.round(
                F.col("shared_texts").cast("double")
                / F.least("texts_a", "texts_b").cast("double"),
                6,
            ).alias("overlap_coeff"),
        )
    )


def dedup_savings_report(
    df: DataFrame,
    components: DataFrame,
) -> DataFrame:
    """ONE-row dedup cost/benefit summary from a near-dup clustering
    (:func:`connected_components` / :func:`connected_components_two_phase`
    output ``(node, component)``) — the "is the dedup pass worth its
    compute" estimate a 100 TB pipeline wants BEFORE committing to the
    full cluster-dedup write:

    - ``corpus_docs`` — total rows of the corpus frame;
    - ``clustered_docs`` / ``n_clusters`` / ``max_cluster`` — docs
      participating in any near-dup cluster, cluster count, and the
      largest cluster (a huge one usually means boilerplate, not true
      duplication — route it to x32 instead);
    - ``removable_docs`` = Σ (size - 1) — rows cluster-dedup would
      drop keeping one survivor per cluster;
    - ``savings_pct`` — removable share of the corpus (6-decimal
      exact ratio);
    - ``singleton_docs`` — rows in no cluster (untouched by dedup).

    Scale: cluster sizes are one component-keyed count over the
    |clustered docs| table (never the corpus); the corpus contributes
    only a 1-row count that rides a broadcast crossJoin.
    """
    sizes = components.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("__size")
    )
    summary = sizes.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("__size").cast("bigint").alias("clustered_docs"),
        F.max("__size").cast("bigint").alias("max_cluster"),
        F.sum(F.col("__size") - F.lit(1)).cast("bigint").alias(
            "removable_docs"
        ),
    )
    total = df.agg(F.count(F.lit(1)).cast("bigint").alias("corpus_docs"))
    return summary.crossJoin(F.broadcast(total)).select(
        "corpus_docs",
        F.coalesce(F.col("clustered_docs"), F.lit(0))
        .cast("bigint")
        .alias("clustered_docs"),
        F.coalesce(F.col("n_clusters"), F.lit(0))
        .cast("bigint")
        .alias("n_clusters"),
        F.coalesce(F.col("max_cluster"), F.lit(0))
        .cast("bigint")
        .alias("max_cluster"),
        F.coalesce(F.col("removable_docs"), F.lit(0))
        .cast("bigint")
        .alias("removable_docs"),
        F.when(
            F.col("corpus_docs") > 0,
            F.round(
                F.coalesce(F.col("removable_docs"), F.lit(0)).cast("double")
                / F.col("corpus_docs").cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("savings_pct"),
        (
            F.col("corpus_docs")
            - F.coalesce(F.col("clustered_docs"), F.lit(0))
        )
        .cast("bigint")
        .alias("singleton_docs"),
    )


def dedup_threshold_sensitivity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    block_by: "str | None" = None,
    floor: float = 0.05,
    n_bins: int = 20,
) -> DataFrame:
    """Jaccard threshold-sensitivity curve — "what does each threshold
    buy" from ONE pair computation, so the dedup threshold is chosen
    from evidence instead of folklore (the knob every near-dup paper
    tunes and every pipeline copies): pairs at similarity >= ``floor``
    are binned by ``floor(jaccard * n_bins)`` and reported as

    - ``threshold`` — the bin's lower edge (a candidate cutoff);
    - ``n_pairs`` — pairs landing in [threshold, threshold + 1/n_bins);
    - ``cum_pairs`` / ``cum_share`` — pairs a dedup run AT this
      threshold would act on (exact descending cumulative), as count
      and as share of all pairs >= ``floor``.

    Reading the curve: a cliff between two bins is a natural cutoff;
    a heavy 1.0 bin means exact dupes dominate (run x01 first and
    spare the near-dup pass the volume).

    Scale: the pair generation is :func:`ngram_jaccard_pairs` (blocked
    + size-bound pruned — the expensive part, paid once); everything
    after is a <= ``n_bins``-row keyed count and two window sums over
    that bounded bin table (allowlisted bounded envelope).
    """
    if n_bins < 2:
        raise ValueError("n_bins must be >= 2")
    from pyspark.sql import Window

    pairs = ngram_jaccard_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        ngram=ngram,
        threshold=floor,
        block_by=block_by,
    )
    counts = (
        pairs.select(
            F.floor(F.col("jaccard") * n_bins).cast("int").alias("__bin")
        )
        .groupBy("__bin")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )
    w_cum = Window.orderBy(F.col("__bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.orderBy(F.col("__bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return counts.select(
        F.round(F.col("__bin").cast("double") / F.lit(n_bins), 6).alias(
            "threshold"
        ),
        "n_pairs",
        F.sum("n_pairs").over(w_cum).cast("bigint").alias("cum_pairs"),
        F.round(
            F.sum("n_pairs").over(w_cum).cast("double")
            / F.sum("n_pairs").over(w_all).cast("double"),
            6,
        ).alias("cum_share"),
    )


def dedup_pair_inspector(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    threshold: float = 0.8,
    block_by: str | None = None,
    top_n: int = 20,
    preview_chars: int = 60,
) -> DataFrame:
    """Human-review sample of what a near-dup dedup at ``threshold``
    would ACT on — the show-me-before-you-delete companion to the
    threshold curve (x132) and savings forecast (x125), and the dedup
    counterpart of the keyword-in-context concordance (x136): the
    ``top_n`` highest-Jaccard pairs, each with both document lengths,
    the length ratio (a near-1.0 Jaccard with a skewed ratio flags the
    containment case a reviewer judges differently), and a
    ``preview_chars`` prefix of each side.

    Output: ``(id_a, id_b, jaccard, chars_a, chars_b, len_ratio,
    preview_a, preview_b)`` ordered jaccard DESC with an (id_a, id_b)
    tiebreak, limited to ``top_n``.

    Scale: pair generation is the blocked :func:`ngram_jaccard_pairs`
    machinery paid once; the doc join-back runs on the pair table only
    (two id-equi joins against the id/length/prefix PROJECTION — the
    text column is truncated map-side before the join, so full
    documents never shuffle); top-n is TakeOrdered.
    """
    if top_n < 1:
        raise ValueError("top_n must be >= 1")
    if preview_chars < 1:
        raise ValueError("preview_chars must be >= 1")
    pairs = ngram_jaccard_pairs(
        df,
        text_col=text_col,
        id_col=id_col,
        ngram=ngram,
        threshold=threshold,
        block_by=block_by,
    )
    meta = df.select(
        F.col(id_col).alias("__mid"),
        F.length(text_col).cast("bigint").alias("__chars"),
        F.substring(F.col(text_col), 1, int(preview_chars)).alias(
            "__preview"
        ),
    )
    a = meta.select(
        F.col("__mid").alias("id_a"),
        F.col("__chars").alias("chars_a"),
        F.col("__preview").alias("preview_a"),
    )
    b = meta.select(
        F.col("__mid").alias("id_b"),
        F.col("__chars").alias("chars_b"),
        F.col("__preview").alias("preview_b"),
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            "chars_a",
            "chars_b",
            F.when(
                F.greatest("chars_a", "chars_b") > 0,
                F.round(
                    F.least("chars_a", "chars_b").cast("double")
                    / F.greatest("chars_a", "chars_b").cast("double"),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("len_ratio"),
            "preview_a",
            "preview_b",
        )
        .orderBy(F.desc("jaccard"), "id_a", "id_b")
        .limit(int(top_n))
    )


def edit_distance_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 20,
) -> DataFrame:
    """Exact character-level Levenshtein VERIFIER for candidate
    document pairs — the edit-distance complement of the token-set
    verifiers (``ngram_jaccard``'s set overlap, x186's ROUGE): a
    fingerprint generator says "probably related", edit distance says
    how many single-character operations actually separate the texts —
    the near-identical-revision detector token-set measures blur (a
    hundred one-character typo edits keep Jaccard high but read as
    distance 100 here).

    ``pairs`` must carry ``(doc_a, doc_b)`` (any candidate generator:
    winnowing, MinHash-LSH, jaccard blocking). Output: one row per
    VERIFIED pair — ``(doc_a, doc_b, distance, similarity)`` with
    ``distance = levenshtein(text_a, text_b) <= max_distance`` and
    ``similarity = 1 - distance / max(len_a, len_b)`` rounded to 6.
    Pairs exceeding ``max_distance``, and pairs whose side is missing
    from ``df`` or null-text, are NOT emitted (this is a filter to
    confirmed near-revisions, unlike :func:`...text.rouge_overlap_pairs`
    which scores every candidate).

    Scale: cost is per CANDIDATE pair, never corpus² — the generator
    bounds the verification set. Spark computes the distance with the
    banded ``levenshtein(l, r, threshold)`` kernel: O(max_distance ×
    len) per pair instead of O(len²), the standard Ukkonen cutoff — at
    a 100 TB corpus with million-char outliers the threshold argument
    is the difference between a verifier and a stall.
    """
    if max_distance < 0:
        raise ValueError("max_distance must be >= 0")
    t = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__doc"),
        F.col(text_col).alias("__txt"),
        F.length(text_col).alias("__n"),
    )
    a = t.select(
        F.col("__doc").alias("doc_a"),
        F.col("__txt").alias("__ta"),
        F.col("__n").alias("__na"),
    )
    b = t.select(
        F.col("__doc").alias("doc_b"),
        F.col("__txt").alias("__tb"),
        F.col("__n").alias("__nb"),
    )
    # banded kernel returns -1 above the threshold — the filter keeps
    # only confirmed distances (identical values to the full DP there)
    dist = F.levenshtein("__ta", "__tb", int(max_distance))
    scored = (
        pairs.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("__d", dist)
        .filter((F.col("__d") >= 0) & (F.col("__d") <= max_distance))
    )
    return scored.select(
        "doc_a",
        "doc_b",
        F.col("__d").cast("bigint").alias("distance"),
        F.round(
            F.lit(1.0)
            - F.col("__d").cast("double")
            / F.greatest("__na", "__nb").cast("double"),
            6,
        ).alias("similarity"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 5,
    key_len: int = 24,
) -> DataFrame:
    """Sorted-neighborhood dedup blocking (Hernández & Stolfo SIGMOD
    1995, the merge/purge method): sort the corpus by a normalized
    blocking key (lowercased alphanumeric prefix of ``key_len`` chars)
    and emit every pair within ``window`` positions of each other —
    the classic record-linkage blocking family the hash-based blockers
    (LSH bands x15, SimHash pigeonhole x16, winnowing x182) don't
    cover: near-duplicates whose keys are lexicographically adjacent
    but hash apart (typo'd prefixes, zero-padded ids, OCR'd leading
    characters) land in the same neighborhood by SORT ORDER, not by
    hash equality.

    Output: one row per candidate pair —
    ``(doc_a, doc_b, rank_distance, prefix_overlap)`` where ``doc_a``
    is the lower-ranked doc, ``rank_distance`` in ``[1, window)``, and
    ``prefix_overlap`` the common-prefix length of the two blocking
    keys (the cheap verify signal; feed pairs to x198's banded
    edit-distance verifier for character-level confirmation). Ordered
    ``(doc_a, doc_b)``.

    Scale: the global sort rank comes from the q58 range-partitioned
    CDF spine (:func:`...ranks.value_cdf` over the unique
    ``(key, id)`` struct — ``assume_distinct`` skips the groupBy, so
    the range exchange is the only full-table movement and NO
    single-reducer window exists anywhere); neighborhoods are
    ``window``-row blocks joined block-to-block and block-to-next
    (two equi-joins, never an OR-join/BNLJ); the DuckDB oracle uses
    the classic single ``ROW_NUMBER() OVER (ORDER BY ...)`` spelling,
    proving the distributed formulation bit-identical.
    """
    if window < 2:
        raise ValueError("window must be >= 2")
    if key_len < 1:
        raise ValueError("key_len must be >= 1")
    from cryoflow_spark.functions.ranks import value_cdf

    keyed = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"),
        F.substring(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", ""),
            1,
            key_len,
        ).alias("__k"),
    )
    ranked = (
        value_cdf(
            keyed.select(
                F.struct(F.col("__k"), F.col("__id")).alias("__sv")
            ),
            "__sv",
            assume_distinct=True,
        )
        .select(
            F.col("__sv.__id").alias("__id"),
            F.col("__sv.__k").alias("__k"),
            (F.col("rows_below") + F.lit(1)).alias("__rn"),
        )
        .withColumn(
            "__blk", ((F.col("__rn") - 1) / F.lit(window)).cast("bigint")
        )
        # the ranked table feeds BOTH sides of the neighborhood join —
        # materialize it once (the x189 lazy-checkpoint rule) instead of
        # recomputing the rank spine per side
        .localCheckpoint(eager=False)
    )
    a = ranked.select(
        F.col("__id").alias("__ida"),
        F.col("__k").alias("__ka"),
        F.col("__rn").alias("__rna"),
        F.col("__blk").alias("__blka"),
    )
    b = ranked.select(
        F.col("__id").alias("__idb"),
        F.col("__k").alias("__kb"),
        F.col("__rn").alias("__rnb"),
        F.col("__blk").alias("__blkb"),
    )
    same = a.join(b, F.col("__blka") == F.col("__blkb"))
    adj = a.join(b, F.col("__blka") + 1 == F.col("__blkb"))
    pairs = same.unionByName(adj).filter(
        (F.col("__rnb") > F.col("__rna"))
        & (F.col("__rnb") - F.col("__rna") < F.lit(window))
    )
    minlen = F.least(F.length("__ka"), F.length("__kb"))
    overlap = F.when(
        minlen >= 1,
        F.size(
            F.filter(
                F.sequence(F.lit(1), minlen),
                lambda i: F.col("__ka").substr(F.lit(1), i)
                == F.col("__kb").substr(F.lit(1), i),
            )
        ),
    ).otherwise(F.lit(0))
    return pairs.select(
        F.col("__ida").alias("doc_a"),
        F.col("__idb").alias("doc_b"),
        (F.col("__rnb") - F.col("__rna")).cast("bigint").alias(
            "rank_distance"
        ),
        overlap.cast("bigint").alias("prefix_overlap"),
    ).orderBy("doc_a", "doc_b")
