"""Training-corpus curation operators: PII scrubbing, benchmark
decontamination, repetition/boilerplate quality stats.

The standard pre-training hygiene passes (all public techniques):

- ``scrub_pii``: regex redaction of emails / URLs / IPv4 / phone-shaped
  spans (the common first pass before any model sees the text). Pure
  ``regexp_replace`` chains — JVM-side, whole-stage codegen, and the
  patterns avoid lookaround so they behave identically under Java regex
  and RE2 (DuckDB/Go) — oracle-checkable.
- ``ngram_decontaminate``: drop training documents that share any word
  n-gram with an evaluation/benchmark set (the GPT-3-style 8-to-13-gram
  overlap rule, Brown et al. 2020 appendix C). The benchmark gram set is
  small by construction → broadcast; the corpus side is a narrow
  explode + one aggregation shuffle.
- ``repetition_stats``: Gopher-style repetition signals (Rae et al.
  2021, table A1): duplicate-token fraction, duplicate-2-gram fraction,
  most-frequent-token fraction. Array stats stay in pure expressions;
  the top-token count is one explode + two-level aggregation.

Scale notes: every operator is a narrow map plus at most one shuffle on
the document id; nothing is quadratic in corpus size and nothing
collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: (pattern, replacement) chain applied in order. No lookaround: portable
#: between Java regex (Spark) and RE2 (DuckDB). Order matters — URLs
#: first so an email-looking userinfo inside a URL is already gone.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
)


def _bt(name: str) -> str:
    """Backtick-quote an identifier for interpolation into ``F.expr``
    SQL (``percentile(`my col`, ...)``): column names with spaces,
    hyphens, or dots — including plugin/TOML-supplied names — must not
    reach the SQL parser unquoted. Embedded backticks are doubled per
    Spark's escaping rule."""
    return "`" + name.replace("`", "``") + "`"


def scrub_pii(text_col):
    """Column: text with PII-shaped spans replaced by typed tags."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    for pattern, repl in PII_PATTERNS:
        col = F.regexp_replace(col, pattern, repl)
    return col


def sql_scrub_pii(text_expr: str) -> str:
    """DuckDB spelling of :func:`scrub_pii` (same patterns, 'g' flag)."""
    expr = text_expr
    for pattern, repl in PII_PATTERNS:
        sql_pat = pattern.replace("'", "''")
        expr = f"regexp_replace({expr}, '{sql_pat}', '{repl}', 'g')"
    return expr


def _word_grams(toks_col: str, ngram: int):
    """Column: distinct word n-grams from a pre-tokenized array column."""
    return F.array_distinct(
        F.expr(
            f"transform(sequence(1, greatest(size({toks_col}) - {ngram - 1}, 1)),"
            f" i -> array_join(slice({toks_col}, i, {ngram}), ' '))"
        )
    )


def contaminated_ids(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
) -> DataFrame:
    """(id, n_shared_grams) for every corpus doc sharing ≥1 word n-gram
    with the benchmark set.

    Scale: benchmark gram sets are tiny (eval suites are thousands of
    docs) → ``broadcast`` hash join against the corpus's exploded grams;
    the only shuffle is the per-doc count aggregation.
    """
    tokenize = lambda c: F.array_remove(F.split(F.col(c), r"\s+"), "")  # noqa: E731
    corpus_grams = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokenize(text_col).alias("__toks"))
        .select(F.col(id_col), F.explode(_word_grams("__toks", ngram)).alias("__gram"))
    )
    bench_grams = (
        benchmark.filter(F.col(text_col).isNotNull())
        .select(tokenize(text_col).alias("__toks"))
        .select(F.explode(_word_grams("__toks", ngram)).alias("__gram"))
        .distinct()
    )
    return (
        corpus_grams.join(F.broadcast(bench_grams), "__gram")
        .groupBy(id_col)
        .agg(F.countDistinct("__gram").alias("n_shared_grams"))
    )


def ngram_decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
) -> DataFrame:
    """Remove corpus docs sharing any word n-gram with the benchmark."""
    hits = contaminated_ids(df, benchmark, text_col, id_col, ngram)
    return df.join(hits.select(id_col), on=id_col, how="left_anti")


def _bloom_words(
    pairs: list[tuple[int, int]], m_bits: int, num_probes: int
) -> list[int]:
    """Bit-table words (signed int64) for a Bloom filter over (h1, h2)
    hash pairs, probes via Kirsch-Mitzenmacher double hashing:
    ``pos_i = pmod(h1 + i*h2, m)`` with Java-long wraparound — the exact
    arithmetic the JVM probe expression replays, so build and probe
    agree bit-for-bit.
    """
    import numpy as np

    words = np.zeros((m_bits + 63) // 64, dtype=np.uint64)
    if pairs:
        h1 = np.array([p[0] for p in pairs], dtype=np.int64)
        h2 = np.array([p[1] for p in pairs], dtype=np.int64)
        # pmod-reduce BEFORE mixing: probe arithmetic then stays inside
        # [0, (num_probes+1)*m) — no long overflow, so the expression is
        # legal under ANSI mode and identical in numpy and the JVM.
        p1 = (h1 % m_bits + m_bits) % m_bits
        p2 = (h2 % m_bits + m_bits) % m_bits
        for i in range(num_probes):
            pos = (p1 + i * p2) % m_bits
            np.bitwise_or.at(
                words, pos // 64, np.uint64(1) << (pos % 64).astype(np.uint64)
            )
    return [int(w) for w in words.view(np.int64)]


def bloom_contaminated_ids(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    bits_per_element: int = 16,
    num_probes: int | None = None,
    max_benchmark_grams: int = 5_000_000,
) -> DataFrame:
    """``contaminated_ids`` semantics via a Bloom prefilter + exact
    confirm join — bit-identical results, built for benchmark gram sets
    too large to broadcast as a hash join.

    Plan shape: the benchmark grams are hashed JVM-side (xxhash64 h1/h2)
    and reduced to an ``m``-bit table (~``bits_per_element``/8 bytes per
    gram — a 10M-gram suite at 16 bits/elem is a 20 MB array vs a
    ~100+ MB broadcast hash relation). The table rides a 1-row broadcast
    cross join; every corpus gram is probed with pure shift/and
    expressions inside whole-stage codegen, so ~all clean grams die
    map-side. Survivors (true hits + Bloom false positives) then confirm
    against the real gram set with an equi-join whose left side is
    already tiny — false positives cannot reach the output, which is why
    the exact-join oracle stays valid.

    The driver holds only the collected (h1, h2) pairs while building
    the table — bounded by the benchmark's distinct-gram count, never by
    corpus size, and hard-capped at ``max_benchmark_grams`` (default 5M
    ≈ 80 MB of pairs): exceeding it raises instead of silently pulling
    a corpus-sized frame through the driver (the guard against passing
    the corpus as the benchmark).
    """
    tokenize = lambda c: F.array_remove(F.split(F.col(c), r"\s+"), "")  # noqa: E731
    spark = df.sparkSession
    corpus_grams = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokenize(text_col).alias("__toks"))
        .select(
            F.col(id_col), F.explode(_word_grams("__toks", ngram)).alias("__gram")
        )
    )
    bench_grams = (
        benchmark.filter(F.col(text_col).isNotNull())
        .select(tokenize(text_col).alias("__toks"))
        .select(F.explode(_word_grams("__toks", ngram)).alias("__gram"))
        .distinct()
    )
    h1 = F.xxhash64(F.col("__gram"))
    h2 = F.xxhash64(F.lit("bloom2"), F.col("__gram"))
    collected = (
        bench_grams.select(h1.alias("h1"), h2.alias("h2"))
        .limit(max_benchmark_grams + 1)
        .collect()
    )
    if len(collected) > max_benchmark_grams:
        raise ValueError(
            f"benchmark has more than max_benchmark_grams="
            f"{max_benchmark_grams} distinct {ngram}-grams; raise the cap "
            f"(driver memory permitting) or shrink/split the benchmark"
        )
    pairs = [(r["h1"], r["h2"]) for r in collected]
    if num_probes is None:
        num_probes = max(1, round(0.693 * bits_per_element))
    m_bits = max(64, ((bits_per_element * max(1, len(pairs)) + 63) // 64) * 64)
    words = _bloom_words(pairs, m_bits, num_probes)
    bloom = spark.createDataFrame([(words,)], "__bloom array<bigint>")

    # Probe i: pos = pmod(h1 + i*h2, m); test bit pos%64 of word pos/64.
    # Pure shift/and arithmetic — stays inside whole-stage codegen.
    pos_i = (
        lambda i: f"pmod(pmod(__h1, {m_bits}L) + {i}L * pmod(__h2, {m_bits}L),"
        f" {m_bits}L)"
    )
    probe_sql = " AND ".join(
        f"((shiftrightunsigned("
        f"element_at(__bloom, CAST({pos_i(i)} / 64 AS INT) + 1),"
        f" CAST(pmod({pos_i(i)}, 64L) AS INT))"
        f" & 1L) = 1L)"
        for i in range(num_probes)
    )
    candidates = (
        corpus_grams.withColumn("__h1", h1)
        .withColumn("__h2", h2)
        .crossJoin(F.broadcast(bloom))
        .filter(F.expr(probe_sql))
        .select(id_col, "__gram")
    )
    return (
        candidates.join(bench_grams, "__gram")
        .groupBy(id_col)
        .agg(F.countDistinct("__gram").alias("n_shared_grams"))
    )


def bloom_decontaminate(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 8,
    bits_per_element: int = 16,
    num_probes: int | None = None,
) -> DataFrame:
    """``ngram_decontaminate`` semantics on the Bloom-prefilter path."""
    hits = bloom_contaminated_ids(
        df, benchmark, text_col, id_col, ngram, bits_per_element, num_probes
    )
    return df.join(hits.select(id_col), on=id_col, how="left_anti")


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 500,
    overlap: int = 100,
) -> DataFrame:
    """1→N sliding-window document chunks with character offsets.

    The standard RAG/embedding preprocessing step: windows of
    ``chunk_size`` chars advancing by ``chunk_size - overlap``; the last
    window may be shorter; every doc yields at least one chunk. Output:
    (id, chunk_idx, chunk_start, chunk_text).

    Pure integer arithmetic + ``substring`` + one ``explode`` — JVM-side,
    no shuffle (a narrow 1→N map), engine-portable.
    """
    if overlap >= chunk_size:
        raise ValueError("overlap must be smaller than chunk_size")
    stride = chunk_size - overlap
    n_chunks = (
        F.ceil(
            F.greatest(F.length(F.col(text_col)) - chunk_size, F.lit(0))
            / F.lit(stride)
        ).cast("int")
        + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            (i * stride + 1).cast("bigint").alias("chunk_start"),
            F.substring(
                F.col(text_col), (i * stride + 1).cast("int"), chunk_size
            ).alias("chunk_text"),
        ),
    )
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), F.explode(chunks).alias("__c"))
        .select(
            id_col,
            F.col("__c.chunk_idx").alias("chunk_idx"),
            F.col("__c.chunk_start").alias("chunk_start"),
            F.col("__c.chunk_text").alias("chunk_text"),
        )
    )


def _cdc_inventory(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    divisor: int = 64,
    min_len: int = 0,
) -> DataFrame:
    """Per-doc CDC chunk inventory (no corpus census) — the shared
    core of :func:`cdc_chunks` and the streaming twin's stateless
    per-batch partial (:func:`cdc_chunk_partials`). See
    :func:`cdc_chunks` for algorithm, determinism, and scale notes."""
    from cryoflow_spark.functions.dedup import char_kgrams, portable_hash60

    if k < 2:
        raise ValueError("k must be >= 2")
    if divisor < 1:
        raise ValueError("divisor must be >= 1")
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__txt")
    )
    L = F.length("__txt")
    # gram i (0-based) covers characters i+1 .. i+k; a boundary is cut
    # after its last one. Texts shorter than k have no grams, no cuts.
    cut_ends = F.filter(
        F.transform(
            char_kgrams("__txt", k),
            lambda g, i: F.when(
                portable_hash60(g) % F.lit(divisor) == 0, i + F.lit(k)
            ),
        ),
        lambda e: e.isNotNull(),
    )
    if min_len > 0:
        # nested when: element_at(acc, -1) is only evaluated when the
        # accumulator is non-empty (ANSI mode errors on empty arrays,
        # and boolean AND does not short-circuit in codegen)
        cut_ends = F.aggregate(
            cut_ends,
            F.array().cast("array<int>"),
            lambda acc, e: F.when(
                F.size(acc) == 0, F.concat(acc, F.array(e))
            ).otherwise(
                F.when(
                    e - F.element_at(acc, -1) < F.lit(min_len), acc
                ).otherwise(F.concat(acc, F.array(e)))
            ),
        )
    # Every stage below references its predecessor exactly ONCE, so the
    # per-character hash scan evaluates once per row — CollapseProject
    # re-inlines duplicated column references, and an `ends` expression
    # used both as the explode argument and inside an element_at lambda
    # was measured re-running the O(chars) md5 scan ~8x per row.
    # cut_ends is sorted ascending with every element <= L, so
    # appending L and array_distinct (first-occurrence order) is
    # exactly "append L unless already last".
    ends = F.array_distinct(
        F.concat(cut_ends, F.array(L.cast("int")))
    )
    # fold ends -> array of (start, end) spans; acc carries the
    # previous end so no second reference to `ends` is needed.
    acc0 = F.struct(
        F.lit(0).cast("int").alias("prev"),
        F.array().cast("array<struct<s:int,e:int>>").alias("arr"),
    )
    spans = F.aggregate(
        ends,
        acc0,
        lambda a, e: F.struct(
            e.cast("int").alias("prev"),
            F.concat(
                a["arr"],
                F.array(
                    F.struct(
                        (a["prev"] + F.lit(1)).cast("int").alias("s"),
                        e.cast("int").alias("e"),
                    )
                ),
            ).alias("arr"),
        ),
        lambda a: a["arr"],
    )
    chunks = (
        base.filter(L >= 1)
        .select(
            "__id",
            "__txt",
            F.posexplode(spans).alias("__ci0", "__c"),
        )
        .select(
            F.col("__id").alias(id_col),
            (F.col("__ci0") + F.lit(1)).cast("int").alias("chunk_idx"),
            F.col("__c.s").alias("chunk_start"),
            (F.col("__c.e") - F.col("__c.s") + F.lit(1)).alias(
                "chunk_len"
            ),
            F.md5(
                F.col("__txt").substr(
                    F.col("__c.s"),
                    F.col("__c.e") - F.col("__c.s") + F.lit(1),
                )
            ).alias("chunk_hash"),
        )
        # chunk table feeds BOTH the census agg and the join-back —
        # materialize once (x189 lazy-checkpoint rule) instead of
        # re-running the hash scan per consumer
        .localCheckpoint(eager=False)
    )
    return chunks


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    divisor: int = 64,
    min_len: int = 0,
) -> DataFrame:
    """Content-defined chunking + corpus chunk-dup census (the LBFS
    scheme — Muthitacharoen, Chen & Mazières SOSP 2001 "A low-bandwidth
    network file system" §3.1; the fixed-window ancestor of FastCDC):
    cut a chunk boundary after every position whose ``k``-char window
    hash satisfies ``h % divisor == 0``, so boundaries are decided by
    CONTENT, not offset — inserting or deleting a prefix shifts every
    fixed-size chunk (x29) but leaves all content-defined boundaries
    after the edit untouched, which is exactly the shift-robustness a
    chunk-level dedup/delta-sync pass needs. Expected chunk length ≈
    ``divisor`` chars.

    Output: one row per chunk —
    ``(id, chunk_idx, chunk_start, chunk_len, chunk_hash,
    n_occurrences)`` with ``chunk_hash`` the md5 of the chunk text and
    ``n_occurrences`` its corpus-wide count (the dedup census: any
    chunk with ``n_occurrences > 1`` is storable/shippable once).
    Null-text docs emit no rows; docs shorter than ``k`` are one whole
    chunk. Ordered ``(id, chunk_idx)``.

    ``min_len`` optionally suppresses boundaries closer than
    ``min_len`` to the previously ACCEPTED boundary (FastCDC's
    min-size rule) via an in-row greedy fold; the default 0 is the
    pure LBFS scheme (and the oracle-mirrored spelling — the fold is
    skipped entirely so the plan stays a flat array pipeline).

    Determinism: window hashes are the engine-portable 60-bit md5
    (:func:`...dedup.portable_hash60`, positive in signed 64-bit so
    ``%`` agrees across engines); everything else is exact integer
    arithmetic on in-row arrays.

    Scale: boundary selection and chunk assembly are PER-ROW array
    expressions (zero shuffle). The window texts come from one
    :func:`...dedup.char_kgrams` regex scan per document — not one
    ``substring`` per position, which re-walks the text from its start
    each time — so boundary selection is O(doc chars × k); each chunk's
    md5 then reads its own span. The only shuffles are the chunk-hash
    census agg and its join back — both keyed on the 32-hex chunk hash,
    the same cost class as x01's exact dedup. No all-pairs anywhere.
    """
    chunks = _cdc_inventory(
        df,
        text_col=text_col,
        id_col=id_col,
        k=k,
        divisor=divisor,
        min_len=min_len,
    )
    census = chunks.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
    return (
        chunks.join(census, "chunk_hash")
        .select(
            id_col,
            "chunk_idx",
            "chunk_start",
            "chunk_len",
            "chunk_hash",
            "n_occurrences",
        )
        .orderBy(id_col, "chunk_idx")
    )


def remove_frequent_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
    min_docs: int | None = None,
    min_doc_frac: float | None = None,
) -> DataFrame:
    """Remove text segments that recur across many documents.

    Split each document on ``delimiter``, drop every non-blank segment
    that appears in at least ``min_docs`` DISTINCT documents (or
    ``min_doc_frac`` of all documents), and reassemble the remaining
    segments in their original order. With ``delimiter="\\n"`` this is
    corpus-level boilerplate line removal (nav menus, cookie banners,
    footers — the RefinedWeb/CCNet-style cleaning pass); with
    ``delimiter=" "`` it degrades to corpus-frequency stopword removal.
    Documents whose every segment is boilerplate drop out of the result.

    Scale: two shuffles — segment-frequency aggregation (map-side
    partial ``countDistinct`` on the segment key) and the per-document
    regroup — plus an equi-join of segments against the boilerplate set
    (small by construction: segments above the frequency floor; AQE
    broadcasts it when it fits). The ``min_doc_frac`` mode adds one
    1-row corpus-count scalar joined in broadcast (same envelope as
    ``tfidf_top_terms``'s corpus scalar). Within-document repeats count
    once (frequency is per-document), so a doc can't promote its own
    refrain into corpus boilerplate.
    """
    if (min_docs is None) == (min_doc_frac is None):
        raise ValueError("pass exactly one of min_docs / min_doc_frac")
    import re

    base = df.filter(F.col(text_col).isNotNull())
    # split() takes a regex; the delimiter is treated as a LITERAL string
    # (it is also what reassembly joins with).
    segments = base.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), re.escape(delimiter), -1)
        ).alias("__pos", "__seg"),
    )
    seg_docs = (
        segments.filter(F.trim("__seg") != "")
        .groupBy("__seg")
        .agg(F.countDistinct(id_col).alias("__nd"))
    )
    if min_docs is not None:
        boiler = seg_docs.filter(F.col("__nd") >= min_docs)
    else:
        total = base.select(
            F.countDistinct(id_col).alias("__total")
        )
        boiler = seg_docs.crossJoin(F.broadcast(total)).filter(
            F.col("__nd") >= F.ceil(F.lit(min_doc_frac) * F.col("__total"))
        )
    kept = segments.join(boiler.select("__seg"), "__seg", "left_anti")
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__seg"))
                    ),
                    lambda s: s["__seg"],
                ),
                delimiter,
            ).alias(text_col)
        )
    )


def ngram_novelty(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
) -> DataFrame:
    """Per-document n-gram novelty: what fraction of a doc's distinct
    word n-grams appears NOWHERE else in the corpus.

    The cross-document diversity signal that complements
    :func:`repetition_stats` (within-doc) and the boilerplate passes
    (cross-doc frequency): templated/spun text scores near 0, original
    prose near 1. Scoring is transcendental-free for bit-identical
    cross-engine checks::

        novelty_score = floor(1e9 * n_novel / n_grams)

    where ``n_grams`` counts the doc's DISTINCT n-grams and ``n_novel``
    those with corpus document-frequency 1 — both integer aggregates
    (order-independent), one exact double divide.

    Scale: one explode + distinct per doc (map-side), one
    vocabulary-sized document-frequency aggregation joined back on the
    gram key, one per-doc count — the TF-IDF join shape. Docs with fewer
    than ``ngram`` words contribute their whole token list as a single
    gram (same convention as the Jaccard operators). Docs with NO tokens
    at all (NULL, empty, or whitespace-only text) are excluded from the
    output entirely — a zero-token doc has no grams, so giving it a
    synthetic empty gram would award it a perfect-novelty score.
    """
    tokenize = F.array_remove(F.split(F.col(text_col), r"\s+"), "")
    base = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokenize.alias("__toks"))
        .filter(F.size("__toks") > 0)
    )
    grams = base.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.greatest(
                            F.size("__toks") - ngram, F.lit(0)
                        ),
                    ),
                    lambda i: F.array_join(
                        F.slice("__toks", i + 1, ngram), " "
                    ),
                )
            )
        ).alias("__gram"),
    )
    dfreq = grams.groupBy("__gram").agg(
        F.countDistinct(id_col).alias("__df")
    )
    per_doc = (
        grams.join(dfreq, "__gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("__df") == 1, 1).otherwise(0)).alias(
                "n_novel"
            ),
        )
    )
    return per_doc.select(
        F.col(id_col),
        "n_grams",
        "n_novel",
        F.floor(
            F.lit(1000000000.0)
            * (
                F.col("n_novel").cast("double")
                / F.col("n_grams").cast("double")
            )
        ).cast("bigint").alias("novelty_score"),
    )


def remove_duplicate_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
) -> DataFrame:
    """Corpus-wide EXACT segment dedup: every non-blank segment keeps only
    its first occurrence (lowest ``(id, position)``) across the whole
    corpus; later repeats are removed and the survivors reassembled in
    their original order.

    This is the RefinedWeb/MassiveText "exact line dedup" pass —
    complementary to :func:`remove_frequent_segments` (which drops
    segments exceeding a document-frequency floor EVERYWHERE, including
    the first copy). Here a quote or header survives once, corpus-wide.
    Documents whose every segment was a repeat vanish from the output.

    Scale: one shuffle keyed on the segment value (the partitioned
    ``row_number`` window — each segment value ranks its occurrences
    locally) and one per-document regroup. Blank segments — by far the
    most frequent "value" in a real multi-line corpus — are routed
    AROUND the window entirely (they are structural and always kept), so
    they never pile onto one reducer; remaining skew is bounded by the
    count of the single most-repeated non-blank segment, which is
    inherent to exact first-occurrence semantics.
    """
    import re

    from pyspark.sql import Window

    base = df.filter(F.col(text_col).isNotNull())
    segments = base.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), re.escape(delimiter), -1)
        ).alias("__pos", "__seg"),
    )
    blanks = segments.filter(F.trim("__seg") == "")
    w = Window.partitionBy("__seg").orderBy(id_col, "__pos")
    firsts = (
        segments.filter(F.trim("__seg") != "")
        .withColumn("__occ", F.row_number().over(w))
        .filter(F.col("__occ") == 1)
        .drop("__occ")
    )
    kept = firsts.unionByName(blanks)
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__pos", "__seg"))
                    ),
                    lambda s: s["__seg"],
                ),
                delimiter,
            ).alias(text_col)
        )
        .filter(F.trim(text_col) != "")
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc repetition signals: (id, n_tokens, dup_token_frac,
    dup_2gram_frac, top_token_frac).

    ``dup_*_frac`` = 1 - distinct/total (fraction of tokens / 2-grams
    that are repeats); ``top_token_frac`` = occurrences of the most
    frequent token / total tokens. High values mark boilerplate and
    degenerate repetition (Gopher filter family).
    """
    tokenize = F.array_remove(F.split(F.col(text_col), r"\s+"), "")
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), tokenize.alias("__toks")
    )
    grams2 = F.expr(
        "transform(sequence(1, greatest(size(__toks) - 1, 1)),"
        " i -> array_join(slice(__toks, i, 2), ' '))"
    )
    frac = lambda arr: F.when(  # noqa: E731
        F.size(arr) > 0,
        1.0 - F.size(F.array_distinct(arr)) / F.size(arr).cast("double"),
    )
    array_stats = base.select(
        F.col(id_col),
        F.size("__toks").cast("bigint").alias("n_tokens"),
        frac(F.col("__toks")).alias("dup_token_frac"),
        frac(grams2).alias("dup_2gram_frac"),
    )
    top_counts = (
        base.select(F.col(id_col), F.explode("__toks").alias("__tok"))
        .groupBy(id_col, "__tok")
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .groupBy(id_col)
        .agg(
            (F.max("__cnt") / F.sum("__cnt").cast("double")).alias(
                "top_token_frac"
            )
        )
    )
    return array_stats.join(top_counts, id_col, "left")


def quantile_threshold_filter(
    df: DataFrame,
    score_col: str,
    group_col: str | None = None,
    p: float = 0.1,
    keep: str = "above",
    exact: bool = True,
    accuracy: int = 10_000,
    with_threshold: bool = False,
) -> DataFrame:
    """Adaptive quantile gate: keep rows at-or-above (``keep="above"``)
    or at-or-below (``keep="below"``) their group's ``p``-th quantile of
    ``score_col``.

    The standard "per-language quality floor" of corpus curation
    (CCNet's per-bucket perplexity cut is this shape): a single global
    threshold over-prunes low-resource groups, so the cutoff adapts to
    each ``group_col`` bucket's own score distribution. Rows with a NULL
    score never pass the gate (they have no defined quantile position).

    ``exact=True`` uses ``percentile`` (linear interpolation — identical
    to ``quantile_cont`` in any engine, the oracle-checkable path); its
    per-group aggregation buffer holds the group's values, fine for
    bounded groups (languages, sources), and the partial aggregation
    still runs map-side. ``exact=False`` switches to
    ``percentile_approx`` (bounded t-digest sketch per group, merged
    map-side) — the 100 TB path for high-cardinality groups. For GLOBAL
    exact quantiles over an unbounded table (``group_col=None``), prefer
    the distributed CDF spine (:mod:`cryoflow_spark.functions.ranks`) —
    the single-group aggregation here funnels the value buffer through
    one aggregator by definition (the approx mode does not).

    Scale: one groupBy over the (small) group domain, the thresholds
    broadcast back, then a map-side filter — no fact-table shuffle.
    """
    if keep not in ("above", "below"):
        raise ValueError(f"invalid keep '{keep}' (expected 'above'/'below')")
    if not 0.0 <= p <= 1.0:
        raise ValueError(f"quantile p={p} outside [0, 1]")

    g = group_col or "__g"
    base = df if group_col else df.withColumn("__g", F.lit(0))
    fn = (
        f"percentile({_bt(score_col)}, {float(p)!r}D)"
        if exact
        else (
            f"percentile_approx({_bt(score_col)}, {float(p)!r}D,"
            f" {int(accuracy)})"
        )
    )
    thresholds = base.groupBy(g).agg(F.expr(fn).alias("__thr"))
    gated = base.join(F.broadcast(thresholds), on=g)
    cond = (
        F.col(score_col) >= F.col("__thr")
        if keep == "above"
        else F.col(score_col) <= F.col("__thr")
    )
    out = gated.filter(cond)
    if not group_col:
        out = out.drop("__g")
    if with_threshold:
        return out.withColumnRenamed("__thr", "threshold")
    return out.drop("__thr")


def segment_repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    delimiter: str = "\n",
) -> DataFrame:
    """Per-doc segment-level repetition signals (Gopher/MassiveText
    repetition family, Rae et al. 2021 table A1): with
    ``delimiter="\\n"`` these are the duplicate-LINE fraction and the
    fraction of characters inside duplicated lines; with ``"\\n\\n"``
    the duplicate-paragraph versions.

    Output: ``(id, n_segments, dup_segment_frac, dup_segment_char_frac)``

    - ``dup_segment_frac``  = 1 - distinct/total segments (repeat rate);
    - ``dup_segment_char_frac`` = chars in ALL occurrences of segments
      appearing more than once / total segment chars — the signal that
      catches a page whose one navigation line repeats 500 times.

    Blank/whitespace-only segments are excluded; NULL-text docs and
    docs with no non-blank segment produce no row. Integer partial
    aggregates + one exact divide per fraction → engine-portable.

    Scale: explode + two-level aggregation keyed by (id, segment) then
    id — the same shape as ``repetition_stats``' top-token pass; no
    corpus-wide state, fully partition-parallel.
    """
    import re

    if not delimiter:
        raise ValueError("delimiter must be a non-empty string")
    segs = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(
                F.split(F.col(text_col), re.escape(delimiter))
            ).alias("__seg"),
        )
        .filter(F.trim(F.col("__seg")) != "")
    )
    per_seg = segs.groupBy(id_col, "__seg").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    seg_len = F.length("__seg").cast("bigint")
    return per_seg.groupBy(id_col).agg(
        F.sum("__cnt").cast("bigint").alias("n_segments"),
        (
            F.lit(1.0)
            - F.count(F.lit(1)).cast("double")
            / F.sum("__cnt").cast("double")
        ).alias("dup_segment_frac"),
        (
            F.sum(
                F.when(F.col("__cnt") > 1, F.col("__cnt") * seg_len).otherwise(
                    F.lit(0)
                )
            ).cast("double")
            / F.sum(F.col("__cnt") * seg_len).cast("double")
        ).alias("dup_segment_char_frac"),
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    p_low: float = 0.01,
    p_high: float = 0.99,
    out_col: str | None = None,
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Clip a numeric column to its per-group [p_low, p_high] quantile
    band (winsorization) — the robust-statistics tail treatment for
    quality/length/score columns before averaging, weighting, or
    curriculum binning (a handful of absurd outliers otherwise owns the
    mean and any weighted sample).

    ``exact=True`` uses interpolated ``percentile`` (bit-identical to
    ``quantile_cont`` — the oracle path; per-group value buffers, fine
    for bounded group domains); ``exact=False`` uses the t-digest
    ``percentile_approx`` (the 100 TB path for high-cardinality
    groups). NULL values pass through unclipped (NULL in → NULL out).
    Output goes to ``out_col`` (default: replaces ``value_col``).

    Scale: one groupBy over the group domain, both thresholds computed
    in ONE aggregation (shared buffer), broadcast back, then a map-side
    ``greatest(least(...))`` — no fact-table shuffle.
    """
    if not 0.0 <= p_low <= p_high <= 1.0:
        raise ValueError("need 0 <= p_low <= p_high <= 1")
    g = group_col or "__g"
    base = df if group_col else df.withColumn("__g", F.lit(0))
    fn = "percentile" if exact else "percentile_approx"
    acc = "" if exact else f", {int(accuracy)}"
    thresholds = base.groupBy(g).agg(
        F.expr(
            f"{fn}({_bt(value_col)}, array({float(p_low)!r}D,"
            f" {float(p_high)!r}D){acc})"
        ).alias("__band")
    ).select(
        F.col(g),
        F.element_at("__band", 1).alias("__lo"),
        F.element_at("__band", 2).alias("__hi"),
    )
    target = out_col or value_col
    clipped = (
        base.join(F.broadcast(thresholds), g)
        .withColumn(
            target,
            F.when(
                F.col(value_col).isNull(), F.lit(None).cast("double")
            ).otherwise(
                F.greatest(
                    F.least(F.col(value_col).cast("double"), F.col("__hi")),
                    F.col("__lo"),
                )
            ),
        )
        .drop("__lo", "__hi")
    )
    return clipped.drop("__g") if not group_col else clipped


def robust_outlier_flags(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
    k: float = 3.0,
    flag_col: str = "is_outlier",
    exact: bool = True,
    accuracy: int = 10_000,
) -> DataFrame:
    """Median/MAD outlier annotation: flag rows where
    ``|v - median| > k * MAD`` within their group (MAD = median of
    absolute deviations) — the robust-statistics outlier rule that a
    few extreme values cannot corrupt, unlike mean/stddev z-scores
    where the outliers inflate their own yardstick.

    Two grouped percentile passes (the second depends on the first's
    medians): exact interpolated ``percentile`` by default
    (quantile_cont-identical, bounded-group buffers) or the t-digest
    sketch (``exact=False``, the high-cardinality path). A NULL value
    gets a NULL flag; a zero MAD (>50% of the group at one value) flags
    only rows NOT at the median — documented behavior of the rule.

    Scale: two groupBy passes over the group domain + two broadcast
    joins + a map-side comparison; no fact-table shuffle.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    g = group_col or "__g"
    base = df if group_col else df.withColumn("__g", F.lit(0))
    fn = "percentile" if exact else "percentile_approx"
    acc = "" if exact else f", {int(accuracy)}"
    med = base.groupBy(g).agg(
        F.expr(f"{fn}({_bt(value_col)}, 0.5D{acc})").alias("__med")
    )
    with_med = base.join(F.broadcast(med), g)
    mad = (
        with_med.withColumn(
            "__absdev",
            F.abs(F.col(value_col).cast("double") - F.col("__med")),
        )
        .groupBy(g)
        .agg(F.expr(f"{fn}(__absdev, 0.5D{acc})").alias("__mad"))
    )
    out = (
        with_med.join(F.broadcast(mad), g)
        .withColumn(
            flag_col,
            F.when(F.col(value_col).isNull(), F.lit(None).cast("boolean"))
            .otherwise(
                F.abs(F.col(value_col).cast("double") - F.col("__med"))
                > F.lit(float(k)) * F.col("__mad")
            ),
        )
        .drop("__med", "__mad")
    )
    return out.drop("__g") if not group_col else out


def quantile_normalize(
    df: DataFrame,
    score_col: str,
    group_col: str | None = None,
    out_col: str = "calibrated",
    method: str = "cume_dist",
) -> DataFrame:
    """Per-group score calibration: replace each row's raw score with
    its within-group quantile position, so scores from different
    sources/models become comparable before any GLOBAL gate or mixer
    (a perplexity of 80 is great for one domain and terrible for
    another — rank positions are the common currency; CCNet's
    per-bucket treatment is this idea).

    ``method="cume_dist"`` (default) emits ``P(X <= x)`` within the
    group — ties share one value, so no tiebreak key is needed and the
    result is deterministic under any partitioning. ``"percent_rank"``
    emits ``(rank-1)/(n-1)`` (0 for the minimum, 1 for the maximum;
    ties share the min rank). Both are exact rank arithmetic — no
    floats beyond one final divide — and match the identically-named
    ANSI window functions in any engine. NULL scores get NULL without
    being counted into any denominator (the built-in ``cume_dist``
    counts null rows; this uses NULL-skipping ``count(col)`` RANGE
    frames instead — the :func:`ensemble_rank_score` rank core — so no
    filter+union and no second scan of the source).

    Scale: ONE scan, ONE partitioned window exchange (each group sorts
    only its own rows — the per-key locality contract); no global
    sort, no corpus-wide single reducer. For a GLOBAL calibration over
    an unbounded table prefer the distributed CDF spine
    (:mod:`cryoflow_spark.functions.ranks`) — ``group_col=None`` here
    is a deliberate single-window convenience for bounded tables.
    """
    from pyspark.sql import Window

    if method not in ("cume_dist", "percent_rank"):
        raise ValueError(
            f"invalid method '{method}' (expected cume_dist/percent_rank)"
        )
    base = Window.partitionBy(group_col) if group_col else Window.partitionBy()
    ordered = base.orderBy(F.col(score_col))
    # count(col) skips NULLs: upto = non-null values <= current (RANGE
    # frame includes peers), peers = ties at the current value, n =
    # non-null count in the partition.
    upto = F.count(F.col(score_col)).over(
        ordered.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    peers = F.count(F.col(score_col)).over(
        ordered.rangeBetween(Window.currentRow, Window.currentRow)
    )
    n = F.count(F.col(score_col)).over(
        ordered.rangeBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    if method == "cume_dist":
        pos = upto.cast("double") / n.cast("double")
    else:
        # min rank = upto - peers + 1; percent_rank = (rank-1)/(n-1)
        pos = F.when(
            n > 1,
            (upto - peers).cast("double") / (n - F.lit(1)).cast("double"),
        ).otherwise(F.lit(0.0))
    return df.withColumn(
        out_col, F.when(F.col(score_col).isNotNull(), pos)
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 50,
    stride: int = 25,
    min_docs: int = 2,
    max_examples: int = 3,
    example_shards: int = 64,
) -> DataFrame:
    """Cross-document duplicate SPAN inventory — the token-window
    granularity of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): find
    ``span_tokens``-token windows (advancing by ``stride``) whose exact
    text occurs in at least ``min_docs`` DISTINCT documents. Line- or
    paragraph-level segment dedup misses duplication that crosses
    segment boundaries or lives inside long lines; token windows do not.
    Output: one row per duplicated span —
    ``(span_hash, n_docs, n_occurrences, example_ids)`` with
    ``example_ids`` the ``max_examples`` smallest doc ids (deterministic).

    Spans are md5-hashed BEFORE the aggregation, so only (id, 16-byte
    hash) rides the shuffle, never span text; the (hash, id) pair is
    pre-distincted per doc so n_docs needs no countDistinct Expand.
    Short documents (< span_tokens tokens) contribute their single
    full-text window iff they have at least one token.

    Scale: a map-side window-explode (docs × windows/stride rows of
    16-byte hashes), one (hash, id) distinct, then a TWO-LEVEL example
    aggregation so no buffer is ever proportional to a span's document
    count: level 1 groups by (span_hash, id % example_shards) and keeps
    only that shard's ``max_examples`` smallest ids (a boilerplate span
    present in 10^8 docs puts at most n_docs/example_shards ids in any
    one reducer, vs all 10^8 in a single-level collect_set); level 2
    merges the <= example_shards bounded slices — at most
    example_shards × max_examples ids per span, constant. The global
    k-smallest are always inside the union of per-shard k-smallest, so
    the result is identical to the single-level form. Counts are plain
    integer sums with map-side partial aggregation at both levels.
    """
    if span_tokens < 2:
        raise ValueError("span_tokens must be >= 2")
    if not 1 <= stride <= span_tokens:
        raise ValueError("stride must be in [1, span_tokens]")
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2")
    toks = F.array_remove(F.split(F.col(text_col), r"\s+"), "")
    # window starts: 1, 1+stride, ... covering every token; a doc
    # shorter than span_tokens yields exactly one (shorter) window.
    windows = F.expr(
        f"transform(sequence(1, greatest(size(__toks) - {span_tokens - 1},"
        f" 1), {stride}),"
        f" i -> md5(array_join(slice(__toks, i, {span_tokens}), ' ')))"
    )
    pairs = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("__id"), toks.alias("__toks"))
        .filter(F.size("__toks") >= 1)
        .select("__id", F.explode(windows).alias("span_hash"))
    )
    per_doc = pairs.groupBy("span_hash", "__id").agg(
        F.count(F.lit(1)).cast("bigint").alias("__occ")
    )
    sharded = per_doc.groupBy(
        "span_hash",
        F.pmod(F.col("__id"), F.lit(example_shards)).alias("__shard"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("__docs"),
        F.sum("__occ").cast("bigint").alias("__occs"),
        F.slice(
            F.array_sort(F.collect_set("__id")), 1, max_examples
        ).alias("__ex"),
    )
    return (
        sharded.groupBy("span_hash")
        .agg(
            F.sum("__docs").cast("bigint").alias("n_docs"),
            F.sum("__occs").cast("bigint").alias("n_occurrences"),
            F.slice(
                F.array_sort(F.flatten(F.collect_list("__ex"))),
                1,
                max_examples,
            ).alias("example_ids"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def _stride1_grams(base: DataFrame, k: int, hasher) -> DataFrame:
    """Stride-1 ``k``-gram fingerprints of ``(__id, __txt)`` rows:
    ``(__id, __pos, __h)`` — one row per character position that starts
    a ``k``-gram (1-based). O(corpus characters × k), map-side, no
    shuffle: each row's grams come from one :func:`...dedup.char_kgrams`
    regex scan, not a substring walk per position. Null text and texts
    shorter than ``k`` emit no rows."""
    from cryoflow_spark.functions.dedup import char_kgrams

    return base.select(
        "__id", F.posexplode(char_kgrams("__txt", k)).alias("__p0", "__g")
    ).select(
        "__id",
        (F.col("__p0") + F.lit(1)).cast("int").alias("__pos"),
        hasher(F.col("__g")).alias("__h"),
    )


def _excise_from_starts(
    base: DataFrame, starts: DataFrame, k: int, id_col: str
) -> DataFrame:
    """Excise the ``[s, s+k-1]`` windows named by each document's sorted
    removal ``__starts`` from ``(__id, __txt)`` rows — the shared core
    of the batch remover and the streaming twin's per-batch excision.

    Single in-row fold over the sorted removal starts: acc carries the
    retained text so far, the covered end, and the merged-span count.
    A start s with coverage [s, s+k-1]: if s begins past the covered
    end the gap (end+1 .. s-1) is retained; a new ISLAND begins only
    when there is an actual uncovered gap (s > end+1, or nothing was
    covered yet) — adjacent/overlapping windows merge into one span.
    """
    acc0 = F.struct(
        F.lit("").alias("t"),
        F.lit(0).alias("e"),
        F.lit(0).cast("long").alias("n"),
    )
    fold = F.aggregate(
        F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
        acc0,
        lambda a, s: F.struct(
            F.when(
                s > a["e"],
                F.concat(
                    a["t"],
                    F.col("__txt").substr(
                        a["e"] + F.lit(1), s - a["e"] - F.lit(1)
                    ),
                ),
            )
            .otherwise(a["t"])
            .alias("t"),
            F.greatest(a["e"], s + F.lit(k - 1)).alias("e"),
            (
                a["n"]
                + F.when(
                    (a["e"] == 0) | (s > a["e"] + 1), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("n"),
        ),
        lambda a: F.struct(
            F.concat(
                a["t"],
                F.col("__txt").substr(
                    a["e"] + F.lit(1), F.length("__txt") - a["e"]
                ),
            ).alias("t"),
            a["e"].alias("e"),
            a["n"].alias("n"),
        ),
    )
    return (
        base.join(starts, "__id", "left")
        .withColumn("__f", fold)
        .select(
            F.col("__id").alias(id_col),
            F.col("__f.t").alias("clean_text"),
            F.coalesce(
                F.length("__txt") - F.length("__f.t"), F.lit(0)
            )
            .cast("bigint")
            .alias("n_chars_removed"),
            F.col("__f.n").cast("bigint").alias("n_spans_removed"),
        )
    )


def exact_substring_fingerprint_partials(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    hash_mode: str = "md5",
) -> DataFrame:
    """Per-fingerprint canonical-occurrence partial of ``df`` — the
    x194 streaming twin's sufficient state: for every stride-1
    ``k``-gram fingerprint, the MINIMUM ``(id, position)`` occurrence
    within this frame. ``(fp, c_id, c_pos)``; the family is closed
    under :func:`merge_exact_substring_partials` (a min-monoid), so
    per-batch partials merge into the corpus fingerprint store without
    ever rescanning ingested text — the x53 signature-persistence
    shape at character level.

    Scale: one gram explode (O(chars × k) — one
    :func:`...dedup.char_kgrams` regex scan per document, map-side) +
    ONE fingerprint-keyed min agg with map-side partials — cheaper than
    the batch remover's sort window; state size is |distinct k-grams|,
    the same table the batch pass shuffles.
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    if hash_mode not in ("md5", "xxhash64"):
        raise ValueError("hash_mode must be 'md5' or 'xxhash64'")
    base = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__txt")
    )
    hasher = F.md5 if hash_mode == "md5" else F.xxhash64
    return (
        _stride1_grams(base, k, hasher)
        .groupBy("__h")
        .agg(F.min(F.struct("__id", "__pos")).alias("__m"))
        .select(
            F.col("__h").alias("fp"),
            F.col("__m.__id").alias("c_id"),
            F.col("__m.__pos").alias("c_pos"),
        )
    )


def merge_exact_substring_partials(df: DataFrame) -> DataFrame:
    """Min-merge ``(fp, c_id, c_pos)`` partial tables (closed family:
    the output is itself a valid partial)."""
    return (
        df.groupBy("fp")
        .agg(
            F.min(
                F.struct(
                    F.col("c_id").alias("__id"),
                    F.col("c_pos").alias("__pos"),
                )
            ).alias("__m")
        )
        .select(
            "fp",
            F.col("__m.__id").alias("c_id"),
            F.col("__m.__pos").alias("c_pos"),
        )
    )


def exact_substring_excise_against(
    df: DataFrame,
    store_df: "DataFrame | None" = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    hash_mode: str = "md5",
) -> DataFrame:
    """Excise ``df`` against an external fingerprint store (the x194
    streaming twin's per-batch step): a ``k``-gram occurrence is
    removed iff it is NOT the minimum ``(id, position)`` occurrence in
    ``store ∪ df`` for its fingerprint. With ``store_df=None`` this is
    exactly :func:`exact_substring_dedup` (the min test equals the
    ``row_number() >= 2`` window — ``(id, pos)`` is unique per
    occurrence), proven by the shared-core pytest; with a store of
    earlier-ingested batches' partials it reproduces the batch remover
    on the ingested union PROVIDED doc ids are nondecreasing across
    batches (the same arrival-order precondition as the transitions/
    attribution streams): a document's excision depends only on
    strictly smaller ``(id, pos)`` occurrences, which then all live in
    the store or this frame. Entries with LARGER ids in the store (a
    replayed batch seeing successors' fingerprints) can never flip a
    min test, so replays are harmless.

    Output schema identical to :func:`exact_substring_dedup`.

    Scale: gram explode + one fingerprint-keyed min agg over
    (batch grams ∪ store) + one equi-join back to the batch grams —
    the store never rescans text, and the join's build side is the
    min table (|distinct fingerprints| rows, AQE-broadcast for small
    batches).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    if hash_mode not in ("md5", "xxhash64"):
        raise ValueError("hash_mode must be 'md5' or 'xxhash64'")
    base = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__txt")
    )
    hasher = F.md5 if hash_mode == "md5" else F.xxhash64
    grams = _stride1_grams(base, k, hasher)
    mins = grams.groupBy("__h").agg(
        F.min(F.struct("__id", "__pos")).alias("__m")
    )
    if store_df is not None:
        store_mins = store_df.select(
            F.col("fp").alias("__h"),
            F.struct(
                F.col("c_id").alias("__id"),
                F.col("c_pos").cast("int").alias("__pos"),
            ).alias("__m"),
        )
        mins = (
            mins.unionByName(store_mins)
            .groupBy("__h")
            .agg(F.min("__m").alias("__m"))
        )
    removals = (
        grams.join(mins, "__h")
        .filter(F.struct("__id", "__pos") > F.col("__m"))
        .select("__id", "__pos")
    )
    starts = removals.groupBy("__id").agg(
        F.array_sort(F.collect_list("__pos")).alias("__starts")
    )
    return _excise_from_starts(base, starts, k, id_col)


def exact_substring_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 20,
    hash_mode: str = "md5",
) -> DataFrame:
    """Character-level exact-substring dedup REMOVER (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    ExactSubstr): excise from every document the characters covered by
    any length-``k`` substring whose exact text occurs elsewhere in the
    corpus, keeping only the FIRST occurrence (lowest ``(id, position)``)
    of each duplicated ``k``-gram. :func:`duplicate_spans` (x93) only
    INVENTORIES token-window duplicates; this pass actually removes the
    duplicated characters, the operation the paper's suffix-array
    ExactSubstr performs. The distributed approximation replaces the
    suffix array with stride-1 ``k``-gram fingerprints: a character
    position is removed iff some ``k``-gram covering it starts at a
    non-canonical occurrence — overlapping duplicated ``k``-grams from
    a long shared passage merge into one excised span, reproducing the
    paper's maximal-match excision for any shared substring of length
    >= k (shared substrings shorter than ``k`` are below the dedup
    threshold and kept, as in the paper).

    Output: one row per input document —
    ``(id, clean_text, n_chars_removed, n_spans_removed)``. Null text
    passes through as null with zero counts; documents shorter than
    ``k`` characters are never touched.

    Determinism: canonical occurrence = ``row_number() = 1`` ordering by
    ``(id, position)`` within each fingerprint; span merge and excision
    are an exact integer fold over each document's sorted removal
    starts — no floats anywhere.

    Scale: the fingerprint explode is O(corpus characters) rows of
    (id, pos, hash), built from one regex scan per document
    (:func:`...dedup.char_kgrams`, O(doc chars × k)) rather than a
    substring walk per position, which would re-read the text from its
    start for every gram — linear, map-side, no all-pairs anywhere.
    The only shuffles are the fingerprint-keyed window (high-cardinality
    key — skew bounded by the most-repeated single k-gram) and one
    per-doc regroup of removal starts (collect_list bounded by doc
    length).
    ``hash_mode="md5"`` is the portable oracle mode (DuckDB-identical);
    ``hash_mode="xxhash64"`` rides 8-byte JVM hashes for production
    (half the shuffle width; a 2^-64 collision removes a span it
    shouldn't — the standard fingerprint-dedup tradeoff).
    """
    from pyspark.sql import Window

    if k < 2:
        raise ValueError("k must be >= 2")
    if hash_mode not in ("md5", "xxhash64"):
        raise ValueError("hash_mode must be 'md5' or 'xxhash64'")
    base = df.select(
        F.col(id_col).alias("__id"), F.col(text_col).alias("__txt")
    )
    hasher = F.md5 if hash_mode == "md5" else F.xxhash64
    grams = _stride1_grams(base, k, hasher)
    w = Window.partitionBy("__h").orderBy("__id", "__pos")
    removals = (
        grams.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") >= 2)
        .select("__id", "__pos")
    )
    starts = removals.groupBy("__id").agg(
        F.array_sort(F.collect_list("__pos")).alias("__starts")
    )
    return _excise_from_starts(base, starts, k, id_col)


def ensemble_rank_score(
    df: DataFrame,
    score_cols: "list[str]",
    group_col: str | None = None,
    out_col: str = "ensemble_score",
) -> DataFrame:
    """Rank-ensemble quality score: the mean of each row's within-group
    ``cume_dist`` quantile positions across several raw signals — the
    standard way to COMBINE heterogeneous quality scores (length,
    stopword rate, perplexity, ...) whose scales and distributions
    don't match: calibrate each to [0, 1] by rank
    (:func:`quantile_normalize` semantics), then average. A signal that
    is NULL for a row is simply left out of that row's mean (rows with
    every signal NULL get NULL).

    Deterministic: each position is ``count(x <= current, non-null) /
    count(non-null)`` — a RANGE-frame count window, so ties share one
    value, NULL rows never inflate another signal's denominator
    (``cume_dist`` itself counts null rows), and everything is integer
    rank arithmetic + one exact divide per row —
    partitioning-independent.

    Scale: one PARTITIONED window per signal over the same group
    partitioning (Spark collapses same-partitioning windows into one
    exchange); no global sort, no single reducer (use the CDF spine for
    a global calibration over an unbounded ungrouped table).
    """
    from pyspark.sql import Window

    cols = list(score_cols)
    if len(cols) < 2:
        raise ValueError("need at least 2 score columns to ensemble")
    clash = [c for c in cols if f"__r_{c}" in df.columns]
    if clash:
        raise ValueError(
            f"temp rank columns would collide with existing columns: "
            f"{[f'__r_{c}' for c in clash]}"
        )
    base = Window.partitionBy(group_col) if group_col else Window.partitionBy()
    out = df
    rank_cols = []
    for c in cols:
        rc = f"__r_{c}"
        rank_cols.append(rc)
        upto = F.count(F.col(c)).over(
            base.orderBy(F.col(c)).rangeBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        )
        n_nonnull = F.count(F.col(c)).over(
            base.orderBy(F.col(c)).rangeBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        out = out.withColumn(
            rc,
            F.when(
                F.col(c).isNotNull(),
                upto.cast("double") / n_nonnull.cast("double"),
            ),
        )
    present = sum(
        (F.when(F.col(rc).isNotNull(), 1).otherwise(0) for rc in rank_cols),
        F.lit(0),
    )
    total = sum(
        (F.coalesce(F.col(rc), F.lit(0.0)) for rc in rank_cols), F.lit(0.0)
    )
    return out.withColumn(
        out_col, F.when(present > 0, total / present.cast("double"))
    ).drop(*rank_cols)


#: Natural log of 2 as a SHARED literal (Spark + oracle SQL) — entropy
#: is computed in nats from integer counts and converted to bits with
#: one portable divide, never a per-engine libm log2.
_LN2 = 0.6931471805599453

#: Base64/hex/token-ish charset a credential scanner screens for.
SECRET_CHARSET_REGEX = r"^[A-Za-z0-9+/=_\-]+$"


def secret_token_scan(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_len: int = 16,
    entropy_bits: float = 3.5,
    emit: str = "summary",
    ln_scale: int = 6,
) -> DataFrame:
    """High-entropy token scan — the credential/API-key leak detector a
    pretraining corpus runs alongside PII scrubbing (the technique
    behind detect-secrets-style scanners: a random base64/hex secret
    has near-maximal character Shannon entropy, while natural-language
    words of the same length sit far lower).

    Candidates are whitespace tokens of ``len >= min_len`` fully
    matching :data:`SECRET_CHARSET_REGEX`. Per DISTINCT candidate
    string the character entropy ``H = ln n - (1/n) Σ c_i ln c_i``
    (c_i = per-character counts) is computed once, converted to bits
    via the shared ``ln 2`` literal, and flagged when
    ``>= entropy_bits``. Output:

    - ``emit="summary"`` (default): one row per document WITH at least
      one candidate — ``(id, n_candidates, n_flagged,
      max_entropy_bits)`` over the doc's distinct candidate strings;
    - ``emit="tokens"``: the scrub worklist —
      ``(id, token, token_len, entropy_bits, flagged)`` per distinct
      (document, candidate) pair.

    Portability: per-character contributions are
    ``c_i × round(ln c_i, ln_scale)`` quantized to BIGINT (exact
    integer sums), plus one ``round(ln n, ln_scale)`` term — the
    x96/x108 fixed-point pattern; the bits conversion and 6-decimal
    output rounding are identical double expressions on both engines.

    Scale: the length/charset filter prunes at the scan; candidates
    dedupe to DISTINCT STRINGS before the character explode, so a key
    pasted into 10^6 documents costs one entropy computation and the
    char explode is bounded by |distinct candidates| × token length;
    the doc join-back is a token-keyed equi-join (AQE broadcasts small
    candidate vocabularies).
    """
    from cryoflow_spark.functions.dedup import char_kgrams

    if min_len < 2:
        raise ValueError("min_len must be >= 2")
    if emit not in ("summary", "tokens"):
        raise ValueError("emit must be 'summary' or 'tokens'")
    if not 0 < ln_scale <= 9:
        raise ValueError("ln_scale must be in (0, 9]")
    q = float(10**ln_scale)

    cand = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.explode(
                F.array_remove(F.split(F.col(text_col), r"\s+"), "")
            ).alias("token"),
        )
        .filter(
            (F.length("token") >= F.lit(int(min_len)))
            & F.col("token").rlike(SECRET_CHARSET_REGEX)
        )
        .distinct()
    )
    chars = (
        cand.select("token")
        .distinct()
        .select(
            "token",
            F.length("token").cast("bigint").alias("__n"),
            F.explode(char_kgrams("token", 1)).alias("__ch"),
        )
        .groupBy("token", "__n", "__ch")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    contrib = (
        F.col("__c")
        * F.round(F.round(F.log("__c"), ln_scale) * F.lit(q)).cast("bigint")
    )
    ent = chars.groupBy("token", "__n").agg(
        F.sum(contrib).cast("bigint").alias("__s")
    )
    bits = F.round(
        (
            F.round(F.log("__n"), ln_scale)
            - F.col("__s").cast("double") / (F.col("__n").cast("double") * F.lit(q))
        )
        / F.lit(_LN2),
        ln_scale,
    )
    scored = cand.join(
        ent.select(
            "token",
            F.col("__n").alias("token_len"),
            bits.alias("entropy_bits"),
        ),
        "token",
    ).select(
        id_col,
        "token",
        "token_len",
        "entropy_bits",
        (F.col("entropy_bits") >= F.lit(float(entropy_bits))).alias(
            "flagged"
        ),
    )
    if emit == "tokens":
        return scored
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.col("flagged"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged"),
        F.max("entropy_bits").alias("max_entropy_bits"),
    )


def decontamination_audit(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngrams=(3, 5, 8),
) -> DataFrame:
    """Overlap audit across n-gram sizes — the tuning table for the
    decontamination rule (:func:`contaminated_ids` /
    :func:`bloom_contaminated_ids`): per candidate ``n`` it reports
    how much of the corpus the rule would drop and how much of the
    benchmark actually leaks, so the n that separates "real eval
    leakage" from "common phrases nuke half the corpus" is chosen
    from evidence, not folklore (GPT-3 used 8-13; Lee et al. 2022
    studies the sensitivity). One row per n:

    ``(ngram, corpus_docs, benchmark_grams, contaminated_docs,
    contaminated_frac, benchmark_grams_hit, benchmark_hit_frac)``.

    Fractions are 6-decimal rounds of exact integer counts.

    Scale: per n, the benchmark gram set stays broadcast-small (eval
    suites), the corpus pays one gram explode + broadcast join +
    1-row distinct-count agg; the audit is an INSTRUMENT — at 100 TB
    run it on a hash-sample of the corpus (the fractions are what
    matter), then apply the chosen n with the Bloom production path.
    """
    if not ngrams or any(int(n) < 1 for n in ngrams):
        raise ValueError("ngrams must be a non-empty list of sizes >= 1")
    tokenize = lambda c: F.array_remove(F.split(F.col(c), r"\s+"), "")  # noqa: E731
    corpus_toks = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), tokenize(text_col).alias("__toks"))
    )
    bench_toks = benchmark.filter(F.col(text_col).isNotNull()).select(
        tokenize(text_col).alias("__toks")
    )
    n_docs = corpus_toks.select(
        F.count(F.lit(1)).cast("bigint").alias("corpus_docs")
    )
    out = None
    for n in ngrams:
        n = int(n)
        bench_grams = (
            bench_toks.select(
                F.explode(_word_grams("__toks", n)).alias("__gram")
            ).distinct()
        )
        n_bench = bench_grams.agg(
            F.count(F.lit(1)).cast("bigint").alias("benchmark_grams")
        )
        hits = (
            corpus_toks.select(
                F.col(id_col),
                F.explode(_word_grams("__toks", n)).alias("__gram"),
            )
            .join(F.broadcast(bench_grams), "__gram")
            .agg(
                F.count_distinct(F.col(id_col))
                .cast("bigint")
                .alias("contaminated_docs"),
                F.count_distinct(F.col("__gram"))
                .cast("bigint")
                .alias("benchmark_grams_hit"),
            )
        )
        row = (
            hits.crossJoin(F.broadcast(n_bench))
            .crossJoin(F.broadcast(n_docs))
            .select(
                F.lit(n).cast("bigint").alias("ngram"),
                "corpus_docs",
                "benchmark_grams",
                "contaminated_docs",
                F.when(
                    F.col("corpus_docs") > 0,
                    F.round(
                        F.col("contaminated_docs").cast("double")
                        / F.col("corpus_docs").cast("double"),
                        6,
                    ),
                ).otherwise(F.lit(0.0)).alias("contaminated_frac"),
                "benchmark_grams_hit",
                F.when(
                    F.col("benchmark_grams") > 0,
                    F.round(
                        F.col("benchmark_grams_hit").cast("double")
                        / F.col("benchmark_grams").cast("double"),
                        6,
                    ),
                ).otherwise(F.lit(0.0)).alias("benchmark_hit_frac"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


#: Stable short names for the PII_PATTERNS chain, in chain order.
PII_TYPE_NAMES: tuple[str, ...] = ("url", "email", "ip", "phone")


def pii_exposure_report(
    df: DataFrame,
    text_col: str = "text",
    group_col: "str | None" = None,
) -> DataFrame:
    """Per-group PII exposure audit — the MEASUREMENT side of
    :func:`scrub_pii`: before deciding to scrub (or to drop a source
    outright), report how much PII-shaped content each slice carries.
    Per slice and per PII type in :data:`PII_PATTERNS` chain order
    (URLs counted before emails so an email-looking userinfo inside a
    URL is attributed to the URL, exactly as the scrubber replaces):

    ``<type>_docs`` (docs with >= 1 span) and ``<type>_spans`` (total
    spans), plus ``docs``, ``any_pii_docs`` and ``any_pii_rate``
    (6-decimal exact ratio) — the compliance dashboard row that
    decides scrub-vs-drop per source.

    Scale: a pure per-row regex expression map (the same
    whole-stage-codegen chain as the scrubber, counting instead of
    replacing) + ONE group-keyed aggregation with map-side partials;
    output is |groups| rows.
    """
    g = group_col or "__g"
    base = df if group_col else df.withColumn("__g", F.lit(0))
    text = F.col(text_col)
    counts = []
    current = text
    for name, (pattern, repl) in zip(PII_TYPE_NAMES, PII_PATTERNS):
        c = F.size(F.regexp_extract_all(current, F.lit(pattern), F.lit(0)))
        counts.append((name, F.when(text.isNotNull(), c).otherwise(0)))
        current = F.regexp_replace(current, pattern, repl)
    proj = base.filter(text.isNotNull()).select(
        F.col(g), *[c.cast("bigint").alias(f"__c_{n}") for n, c in counts]
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("docs")]
    any_hit = None
    for n, _ in counts:
        aggs.append(
            F.sum(F.when(F.col(f"__c_{n}") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"{n}_docs")
        )
        aggs.append(F.sum(f"__c_{n}").cast("bigint").alias(f"{n}_spans"))
        hit = F.col(f"__c_{n}") > 0
        any_hit = hit if any_hit is None else (any_hit | hit)
    aggs.append(
        F.sum(F.when(any_hit, 1).otherwise(0))
        .cast("bigint")
        .alias("any_pii_docs")
    )
    out = proj.groupBy(g).agg(*aggs).withColumn(
        "any_pii_rate",
        F.when(
            F.col("docs") > 0,
            F.round(
                F.col("any_pii_docs").cast("double")
                / F.col("docs").cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)),
    )
    return out.drop("__g") if not group_col else out


#: Encoding-artifact detectors shared by :func:`encoding_artifact_report`
#: and its DuckDB oracle — ``\x{..}`` escapes parse identically in Java
#: regex (Spark) and RE2 (DuckDB). ``mojibake``: UTF-8 bytes re-decoded
#: as Latin-1/cp1252 — a stray ``Ã`` before a continuation-byte char
#: (``Ã©`` for ``é``), the ``â€``-prefixed curly-quote/dash family
#: (``â€™`` for ``’``), or the ``Â``+NBSP pair. ``control``: C0 control
#: characters other than tab/newline/CR (binary bleed-through).
#: ``replacement``: U+FFFD, a decoder's own failure marker.
ENCODING_ARTIFACT_PATTERNS: "list[tuple[str, str]]" = [
    ("mojibake", "Ã[\\x{80}-\\x{BF}]|â€|Â\\x{A0}"),
    ("control", "[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}]"),
    ("replacement", "\\x{FFFD}"),
]


def encoding_artifact_report(
    df: DataFrame,
    text_col: str = "text",
    group_col: "str | None" = None,
) -> DataFrame:
    """Per-group encoding-artifact audit — the charset-hygiene twin of
    :func:`pii_exposure_report` for web-scraped corpora (the defect
    class the public ``ftfy`` tool repairs; Speer 2019): per slice,
    docs carrying each artifact family of
    :data:`ENCODING_ARTIFACT_PATTERNS` —

    - ``mojibake_docs`` — UTF-8-decoded-as-Latin-1/cp1252 signatures
      (``Ã©``, ``â€™``, ``Â``+NBSP): the dump was transcoded twice
      somewhere upstream;
    - ``control_docs`` — C0 control characters besides tab/newline/CR:
      binary content leaked into the text column;
    - ``replacement_docs`` — U+FFFD: a decoder already gave up;

    plus ``docs``, ``artifact_docs`` (any family) and ``artifact_rate``
    (6-decimal exact ratio) — the per-source row that decides
    re-extract vs transcode-repair vs drop BEFORE tokenization bakes
    the damage into the model's vocabulary.

    Scale: a pure per-row ``rlike`` expression map (whole-stage
    codegen, no UDF) + ONE group-keyed aggregation with map-side
    partials; output is |groups| rows. NULL text is excluded.
    """
    g = group_col or "__g"
    base = df if group_col else df.withColumn("__g", F.lit(0))
    text = F.col(text_col)
    proj = base.filter(text.isNotNull()).select(
        F.col(g),
        *[
            text.rlike(pat).cast("int").alias(f"__h_{name}")
            for name, pat in ENCODING_ARTIFACT_PATTERNS
        ],
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("docs")]
    any_hit = None
    for name, _ in ENCODING_ARTIFACT_PATTERNS:
        aggs.append(
            F.sum(f"__h_{name}").cast("bigint").alias(f"{name}_docs")
        )
        hit = F.col(f"__h_{name}") > 0
        any_hit = hit if any_hit is None else (any_hit | hit)
    aggs.append(
        F.sum(F.when(any_hit, 1).otherwise(0))
        .cast("bigint")
        .alias("artifact_docs")
    )
    out = proj.groupBy(g).agg(*aggs).withColumn(
        "artifact_rate",
        F.when(
            F.col("docs") > 0,
            F.round(
                F.col("artifact_docs").cast("double")
                / F.col("docs").cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)),
    )
    return out.drop("__g") if not group_col else out


def chat_transcript_audit(
    df: DataFrame,
    json_col: str = "transcript",
    group_col: "str | None" = None,
) -> DataFrame:
    """Per-group chat-transcript format audit — the schema gate an
    instruction/RLHF data pipeline runs before a single transcript
    reaches tokenization (a malformed turn structure silently corrupts
    the chat template for every epoch): transcripts are JSON arrays of
    ``{"role", "content"}`` turns, and per slice the report counts

    - ``parse_fail_docs`` — not valid JSON or not a top-level ARRAY
      (``from_json`` null, or a bare object it would permissively
      wrap);
    - ``bad_start_docs`` — first role is neither ``user`` nor
      ``system``;
    - ``non_alternating_docs`` — two consecutive turns with the same
      role (double-send);
    - ``empty_content_docs`` — a turn with NULL/empty content;
    - ``bad_role_docs`` — a role outside system/user/assistant;
    - ``valid_docs`` / ``valid_rate`` — transcripts passing ALL
      checks (6-decimal exact ratio), and ``docs`` scanned.

    NULL transcripts are excluded.

    Scale: one ``from_json`` + higher-order-function flag projection
    per row (no explode — the turn list never leaves its row), then
    ONE group-keyed aggregation with map-side partials; |groups| rows
    out.
    """
    g = group_col or "__g"
    base = df if group_col else df.withColumn("__g", F.lit(0))
    arr = F.from_json(
        F.col(json_col), "array<struct<role:string,content:string>>"
    )
    roles = F.transform(arr, lambda t: t["role"])
    n = F.size(arr)
    # from_json permissively WRAPS a bare JSON object into a 1-element
    # array; a transcript must be a top-level array, so require the
    # first non-space char to be '[' as well as a successful parse.
    parsed = arr.isNotNull() & F.ltrim(F.col(json_col)).startswith("[")
    bad_start = parsed & (n > 0) & ~F.element_at(roles, 1).isin(
        "user", "system"
    )
    non_alt = F.when(
        parsed & (n >= 2),
        F.exists(
            F.zip_with(
                F.slice(roles, 1, n - 1),
                F.slice(roles, 2, n - 1),
                lambda a, b: a.eqNullSafe(b),
            ),
            lambda x: x,
        ),
    ).otherwise(F.lit(False))
    empty_content = F.when(
        parsed,
        F.exists(
            arr,
            lambda t: t["content"].isNull() | (t["content"] == ""),
        ),
    ).otherwise(F.lit(False))
    bad_role = F.when(
        parsed,
        F.exists(
            roles,
            lambda r: r.isNull()
            | ~r.isin("system", "user", "assistant"),
        ),
    ).otherwise(F.lit(False))
    valid = (
        parsed
        & (n > 0)
        & ~bad_start
        & ~non_alt
        & ~empty_content
        & ~bad_role
    )
    proj = base.filter(F.col(json_col).isNotNull()).select(
        F.col(g),
        (~parsed).cast("int").alias("__pf"),
        bad_start.cast("int").alias("__bs"),
        non_alt.cast("int").alias("__na"),
        empty_content.cast("int").alias("__ec"),
        bad_role.cast("int").alias("__br"),
        valid.cast("int").alias("__ok"),
    )
    out = proj.groupBy(g).agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.sum("__pf").cast("bigint").alias("parse_fail_docs"),
        F.sum("__bs").cast("bigint").alias("bad_start_docs"),
        F.sum("__na").cast("bigint").alias("non_alternating_docs"),
        F.sum("__ec").cast("bigint").alias("empty_content_docs"),
        F.sum("__br").cast("bigint").alias("bad_role_docs"),
        F.sum("__ok").cast("bigint").alias("valid_docs"),
    ).withColumn(
        "valid_rate",
        F.when(
            F.col("docs") > 0,
            F.round(
                F.col("valid_docs").cast("double")
                / F.col("docs").cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)),
    )
    return out.drop("__g") if not group_col else out


#: Non-Latin confusable script ranges for the mixed-script screen —
#: Cyrillic + Greek, the two scripts whose letterforms are routinely
#: substituted for Latin in homograph spoofing (Unicode TR39's
#: mixed-script confusable class). ``\x{..}`` escapes parse identically
#: in Java regex (Spark) and RE2 (DuckDB).
MIXED_SCRIPT_CONFUSABLE = "[\\x{0400}-\\x{04FF}\\x{0370}-\\x{03FF}]"


def mixed_script_flags(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Annotate each document with WORD-level mixed-script measurements
    — the homograph-spoofing / SEO-spam screen (Unicode TR39
    mixed-script confusables; Gabrilovich & Gontmakher 2002, "The
    Homograph Attack"): a single token mixing Latin letters with
    Cyrillic/Greek lookalikes (``pаypal`` with a Cyrillic ``а``) is
    almost never legitimate text, where DOC-level script mixing
    (quotes, names) is common — which is why ``script_profile``'s
    per-doc histogram cannot catch this and a word-level rule can.

    Adds: ``mixed_script_words`` (count of whitespace tokens matching
    both a Latin letter and a confusable-range letter),
    ``mixed_script_frac`` (exact ratio over words, NULL on empty),
    ``mixed_example`` (lexicographically smallest offending token —
    the audit sample), ``has_mixed_script``. NULL text → zero counts,
    NULL ratios/example, false flag.

    Scale: one narrow JVM map (split + two regexp probes per token
    inside a ``filter`` lambda) — no UDF, no shuffle, rides
    whole-stage codegen like the other rule screens.
    """
    text = F.col(text_col)
    words = F.array_remove(F.split(text, r"\s+"), "")
    mixed = F.filter(
        words,
        lambda w: w.rlike("[A-Za-z]")
        & w.rlike(MIXED_SCRIPT_CONFUSABLE),
    )
    n_words = F.size(words).cast("bigint")
    n_mixed = F.size(mixed).cast("bigint")
    return (
        df.withColumn(
            "mixed_script_words",
            F.when(text.isNotNull(), n_mixed).otherwise(F.lit(0)).cast(
                "bigint"
            ),
        )
        .withColumn(
            "mixed_script_frac",
            F.when(
                text.isNotNull() & (n_words > 0),
                F.round(
                    n_mixed.cast("double") / n_words.cast("double"), 6
                ),
            ),
        )
        .withColumn(
            "mixed_example",
            F.when(text.isNotNull(), F.array_min(mixed)),
        )
        .withColumn(
            "has_mixed_script",
            F.coalesce(
                F.when(text.isNotNull(), n_mixed > 0), F.lit(False)
            ),
        )
    )


#: Literal control/special tokens whose presence in TRAINING TEXT is
#: contamination: a document containing a tokenizer's own control
#: sequences teaches the model to emit them mid-generation (the
#: "special token injection" failure class; each is also a prompt-
#: injection vector when user text is templated verbatim). Literal
#: ``contains`` probes — no regex.
SPECIAL_TOKENS: "tuple[str, ...]" = (
    "<|endoftext|>",
    "<|im_start|>",
    "<|im_end|>",
    "<s>",
    "</s>",
    "<unk>",
    "<pad>",
    "<mask>",
    "[INST]",
    "[/INST]",
    "<<SYS>>",
    "<|user|>",
    "<|assistant|>",
)


def special_token_report(
    df: DataFrame,
    text_col: str = "text",
    group_col: "str | None" = None,
    tokens: "Sequence[str] | None" = None,
) -> DataFrame:
    """Per-slice special-token contamination report — the control-token
    leak scan an instruction pipeline runs BEFORE templating (a corpus
    doc already containing ``<|im_end|>`` or ``</s>`` teaches the model
    to close turns mid-answer, and templated verbatim it becomes a
    prompt-injection vector): per group and per literal token in
    ``tokens`` (default :data:`SPECIAL_TOKENS`), the documents
    containing it and their share of the slice — only tokens that
    actually occur are reported (the healthy corpus produces 0 rows).

    Output: ``(group?, token, docs, total_docs, share)`` ordered by
    docs DESC with a token tiebreak.

    Scale: one scan; the per-token probes are a map-side literal-array
    explode (|tokens| × rows intermediates collapsed by the keyed agg
    with partials — like the keyword-contexts inline term explode);
    broadcast per-group totals. No regex, no UDF.
    """
    toks = list(tokens) if tokens is not None else list(SPECIAL_TOKENS)
    if not toks:
        raise ValueError("tokens must be non-empty")
    g = group_col or "__g"
    base = (
        df if group_col else df.withColumn("__g", F.lit(0))
    ).filter(F.col(text_col).isNotNull())
    totals = base.groupBy(g).agg(
        F.count(F.lit(1)).cast("bigint").alias("total_docs")
    )
    hits = (
        base.select(
            F.col(g),
            F.col(text_col).alias("__t"),
            F.explode(F.array(*[F.lit(t) for t in toks])).alias("token"),
        )
        .filter(F.instr(F.col("__t"), F.col("token")) > 0)
        .groupBy(g, "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("docs"))
    )
    out = (
        hits.join(F.broadcast(totals), g)
        .select(
            *( [F.col(g)] if group_col else [] ),
            "token",
            "docs",
            "total_docs",
            F.round(
                F.col("docs").cast("double")
                / F.col("total_docs").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy(F.desc("docs"), "token")
    )
    return out


def chat_turn_stats(
    df: DataFrame,
    json_col: str = "transcript",
    group_col: "str | None" = None,
) -> DataFrame:
    """Per-group chat-transcript SHAPE report — the sizing companion to
    :func:`chat_transcript_audit` (that one gates format defects; this
    one describes the data that passed): over parseable top-level-array
    transcripts, per slice

    - ``docs`` — parseable transcripts; ``total_turns``;
    - ``avg_turns`` — mean turns per transcript (6-decimal exact
      ratio);
    - ``max_turns`` — the longest conversation (truncation planning);
    - ``user_turns`` / ``assistant_turns`` / ``system_turns`` — role
      mix (a user/assistant imbalance far from 1:1 flags scraping
      artifacts);
    - ``avg_user_chars`` / ``avg_assistant_chars`` — mean content
      length per role (terse-question/long-answer is the expected
      instruct shape; the inverse flags swapped roles).

    Unparseable or bare-object transcripts are excluded — run the
    audit first. All ratios are exact integer divisions.

    Scale: ``from_json`` + higher-order aggregates per row (the turn
    list never leaves its row — no explode), then ONE group-keyed
    aggregation with map-side partials; |groups| rows out.
    """
    g = group_col or "__g"
    base = df if group_col else df.withColumn("__g", F.lit(0))
    arr = F.from_json(
        F.col(json_col), "array<struct<role:string,content:string>>"
    )
    parsed = arr.isNotNull() & F.ltrim(F.col(json_col)).startswith("[")

    def role_turns(role):
        return F.size(F.filter(arr, lambda t: t["role"] == role))

    def role_chars(role):
        return F.aggregate(
            F.filter(arr, lambda t: t["role"] == role),
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + F.coalesce(F.length(t["content"]), F.lit(0)),
        )

    proj = (
        base.filter(F.col(json_col).isNotNull())
        .filter(parsed)
        .select(
            F.col(g),
            F.size(arr).cast("bigint").alias("__n"),
            role_turns("user").cast("bigint").alias("__u"),
            role_turns("assistant").cast("bigint").alias("__a"),
            role_turns("system").cast("bigint").alias("__s"),
            role_chars("user").alias("__uc"),
            role_chars("assistant").alias("__ac"),
        )
    )
    ratio = lambda num, den: F.when(  # noqa: E731
        den > 0,
        F.round(num.cast("double") / den.cast("double"), 6),
    ).otherwise(F.lit(0.0))
    out = proj.groupBy(g).agg(
        F.count(F.lit(1)).cast("bigint").alias("docs"),
        F.sum("__n").cast("bigint").alias("total_turns"),
        F.max("__n").cast("bigint").alias("max_turns"),
        F.sum("__u").cast("bigint").alias("user_turns"),
        F.sum("__a").cast("bigint").alias("assistant_turns"),
        F.sum("__s").cast("bigint").alias("system_turns"),
        F.sum("__uc").cast("bigint").alias("__user_chars"),
        F.sum("__ac").cast("bigint").alias("__assistant_chars"),
    ).select(
        *( [F.col(g)] if group_col else [] ),
        "docs",
        "total_turns",
        ratio(F.col("total_turns"), F.col("docs")).alias("avg_turns"),
        "max_turns",
        "user_turns",
        "assistant_turns",
        "system_turns",
        ratio(F.col("__user_chars"), F.col("user_turns")).alias(
            "avg_user_chars"
        ),
        ratio(F.col("__assistant_chars"), F.col("assistant_turns")).alias(
            "avg_assistant_chars"
        ),
    )
    return out


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
    sensitive_col: str | None = None,
) -> DataFrame:
    """Re-identification audit before releasing dataset metadata:
    every quasi-identifier combination shared by FEWER than ``k`` rows
    (Sweeney 2002, "k-anonymity: a model for protecting privacy" —
    a record is k-anonymous iff its quasi-identifier tuple is
    indistinguishable among >= k records), optionally with the
    combination's distinct-sensitive-value count (l-diversity,
    Machanavajjhala et al. 2007: a small group whose members all share
    one sensitive value leaks it even at k). The training-data read:
    "can (language, source, exact length) single out a contributor in
    the metadata we publish?" — release gates typically generalize or
    suppress the reported combinations until this report is empty.

    Output: one row per violating combination — the quasi columns,
    ``group_size`` (bigint, < k), and ``l_distinct`` (bigint, distinct
    non-null sensitive values; 0 without ``sensitive_col``). NULL
    quasi values are legitimate combination members (NULL groups like
    any value in a groupBy — an all-NULL tuple of one row is still a
    singleton leak).

    Scale: ONE hash aggregation on the quasi tuple (map-side partials;
    count-distinct adds the standard two-level expand only when
    ``sensitive_col`` is set) and a ``< k`` filter — the report is
    |violating combinations| rows, and the common release-gate use is
    just ``.limit(1).isEmpty()``-style emptiness.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    if k < 2:
        raise ValueError("k must be >= 2 (k=1 is vacuously anonymous)")
    aggs = [F.count(F.lit(1)).cast("bigint").alias("group_size")]
    if sensitive_col is not None:
        aggs.append(
            F.countDistinct(F.col(sensitive_col))
            .cast("bigint")
            .alias("l_distinct")
        )
    out = df.groupBy(*quasi_cols).agg(*aggs)
    if sensitive_col is None:
        out = out.withColumn("l_distinct", F.lit(0).cast("bigint"))
    return out.filter(F.col("group_size") < k).select(
        *quasi_cols, "group_size", "l_distinct"
    )


def dsir_log_weights(
    df: DataFrame,
    target_expr,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_buckets: int = 1024,
) -> DataFrame:
    """DSIR importance weights for data selection (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling",
    NeurIPS): score every raw-corpus document by how much more likely
    its hashed bag-of-words is under a TARGET distribution (the rows
    where ``target_expr`` is true — e.g. a trusted high-quality slice)
    than under the raw corpus itself::

        log w(x) = Σ_buckets c_x[b] · ( ln p̂_target(b) − ln p̂_raw(b) )

    with add-1 smoothed bucket unigram models over ``num_buckets``
    hashed token buckets (``p̂(b) = (ct[b]+1)/(N+B)``). Resampling the
    corpus ∝ w(x) is the paper's recipe for tilting a 100 TB crawl
    toward a curated domain without training a classifier.

    Output: one row per document with ≥1 token —
    ``(id_col, n_tokens bigint, log_weight double)``, ``log_weight``
    rounded to 6 decimals. Positive → more target-like than the raw
    average; the target rows themselves are scored too (they are part
    of the raw corpus, as in the paper).

    Determinism: buckets use the engine-portable md5 hash
    (:func:`cryoflow_spark.functions.dedup.portable_base_hash`) mod
    ``num_buckets``; per-bucket components are rounded to 6 decimals
    and folded per document in CANONICAL BUCKET ORDER (collect →
    sort → left fold — float addition is order-dependent, registry
    rule), then rounded again.

    Scale: tokens explode to (doc, bucket) pairs and immediately
    aggregate (map-side combine); the bucket model tables are
    ≤ ``num_buckets`` rows → broadcast; totals are a 1-row broadcast;
    the per-doc fold buffer is bounded by min(doc tokens, buckets).
    Nothing is quadratic, nothing collects to the driver.
    """
    if num_buckets < 2:
        raise ValueError("num_buckets must be >= 2")
    from cryoflow_spark.functions.dedup import portable_base_hash

    b_lit = int(num_buckets)
    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.when(target_expr, F.lit(1)).otherwise(F.lit(0)).alias("__tgt"),
        F.explode(
            F.array_remove(
                F.split(F.lower(F.col(text_col)), r"\s+"), ""
            )
        ).alias("__g"),
    )
    per_doc_bucket = toks.groupBy(
        F.col(id_col),
        F.pmod(portable_base_hash(F.col("__g")), F.lit(b_lit)).alias("__b"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("__c"),
        F.max("__tgt").alias("__tgt"),
    )
    buckets = per_doc_bucket.groupBy("__b").agg(
        F.sum("__c").cast("bigint").alias("__cr"),
        F.sum(F.col("__c") * F.col("__tgt")).cast("bigint").alias("__ct"),
    )
    totals = buckets.agg(
        F.sum("__cr").cast("bigint").alias("__nr"),
        F.sum("__ct").cast("bigint").alias("__nt"),
    )
    comp = F.round(
        F.col("__c").cast("double")
        * (
            F.log(
                (F.col("__ct") + 1).cast("double")
                / (F.col("__nt") + b_lit).cast("double")
            )
            - F.log(
                (F.col("__cr") + 1).cast("double")
                / (F.col("__nr") + b_lit).cast("double")
            )
        ),
        6,
    )
    scored = (
        per_doc_bucket.join(F.broadcast(buckets), "__b")
        .crossJoin(F.broadcast(totals))
        .select(F.col(id_col), F.col("__b"), F.col("__c"), comp.alias("__comp"))
    )
    return scored.groupBy(id_col).agg(
        F.sum("__c").cast("bigint").alias("n_tokens"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("__b", "__comp"))),
                F.lit(0.0),
                lambda acc, s: acc + s["__comp"],
            ),
            6,
        ).alias("log_weight"),
    )


def luhn_audit(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Luhn-checksum audit of payment-card-shaped digit
    runs (Luhn 1960, US patent 2,950,048 — the ISO/IEC 7812 check
    digit): candidates are 13-19 digit runs allowing single space/dash
    separators (``[0-9](?:[ -]?[0-9]){12,18}``, leftmost greedy in
    both Java regex and RE2 — no lookbehind, so the pattern ports);
    each candidate's digits are folded right-to-left with every second
    digit doubled and 9-subtracted, valid iff the sum % 10 == 0. The
    PRECISION layer the regex-only PII family (x24/x111/x122) lacks:
    a random 16-digit run passes a digit-shape regex ~100% of the time
    but Luhn only ~10% — validation cuts the false-positive review
    queue 10×, the standard practice of every production secret/PII
    scanner (Presidio, detect-secrets).

    Output: ``(id, n_candidates, n_luhn_valid, n_luhn_invalid)`` for
    every doc with at least one candidate.

    Scale: pure per-row regexp + in-row integer folds in whole-stage
    codegen — zero shuffles, zero joins, exact integers throughout.
    """
    cands = F.regexp_extract_all(
        F.col(text_col), F.lit(r"[0-9](?:[ -]?[0-9]){12,18}"), F.lit(0)
    )

    def luhn_valid(c):
        clean = F.regexp_replace(c, "[^0-9]", "")
        n = F.length(clean)
        digit_from_right = lambda i: F.substring(  # noqa: E731
            clean, (n - i + F.lit(1)).cast("int"), 1
        ).cast("int")
        s = F.aggregate(
            F.sequence(F.lit(1), n),
            F.lit(0),
            lambda acc, i: acc
            + F.when(i % 2 == 1, digit_from_right(i)).otherwise(
                F.when(
                    digit_from_right(i) * 2 > 9,
                    digit_from_right(i) * 2 - 9,
                ).otherwise(digit_from_right(i) * 2)
            ),
        )
        return F.when(s % 10 == 0, F.lit(1)).otherwise(F.lit(0))

    valids = F.transform(cands, luhn_valid)
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.size(cands).cast("bigint").alias("n_candidates"),
            F.aggregate(
                valids, F.lit(0), lambda a, v: a + v
            )
            .cast("bigint")
            .alias("n_luhn_valid"),
        )
        .filter(F.col("n_candidates") > 0)
        .select(
            id_col,
            "n_candidates",
            "n_luhn_valid",
            (F.col("n_candidates") - F.col("n_luhn_valid")).alias(
                "n_luhn_invalid"
            ),
        )
    )


def cdc_chunk_partials(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    divisor: int = 64,
    min_len: int = 0,
) -> DataFrame:
    """Per-batch state partial of the x203 CDC census: each document's
    chunk inventory (id, chunk_idx, chunk_start, chunk_len,
    chunk_hash) WITHOUT the corpus-wide ``n_occurrences`` — chunking
    is a stateless per-row map, so the inventory itself needs no
    cross-batch state; the census count per chunk hash is a SUM
    monoid recovered at finalize from these same rows."""
    return _cdc_inventory(
        df,
        text_col=text_col,
        id_col=id_col,
        k=k,
        divisor=divisor,
        min_len=min_len,
    )


def cdc_census_from_partials(partials: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Rebuild the full x203 output (inventory + corpus-wide
    ``n_occurrences``) from unioned per-batch inventories — the SUM
    monoid finalize: counts add across batches regardless of arrival
    order."""
    census = partials.groupBy("chunk_hash").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences")
    )
    return partials.join(census, "chunk_hash").select(
        id_col,
        "chunk_idx",
        "chunk_start",
        "chunk_len",
        "chunk_hash",
        "n_occurrences",
    ).orderBy(id_col, "chunk_idx")
