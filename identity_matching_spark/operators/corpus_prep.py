"""Training-corpus preparation operators.

The reference engine's linkage outputs feed a downstream training-data
pipeline; these are the corpus-preparation steps such a pipeline runs at
100 TB, expressed Spark-first and value-exact against DuckDB twins:

* ``split_assign``        — deterministic train/val/test assignment by a
                            portable content-independent hash of the id.
* ``sample_stratified``   — per-stratum deterministic downsampling (the
                            language-balancing step of corpus assembly).
* ``decontaminate``       — flag training docs sharing any word-n-gram
                            with an evaluation set (benchmark leakage
                            scan; the eval n-gram set broadcasts).
* ``repetition_stats``    — MassiveText-style repetition signals per doc
                            (distinct-token ratio, top-token fraction,
                            duplicate-2-gram fraction).
* ``normalize_text_nfc``  — NFC + control-strip + whitespace-collapse
                            canonicalization (batched Arrow UDF; DuckDB
                            twin via ``nfc_normalize``).
* ``global_shuffle``      — deterministic training order: global rank by
                            a seeded hash, computed with the two-pass
                            range-partition + offset scheme (no global
                            window; scales to any row count).
* ``redact_pii``          — email/SSN/phone/IPv4 scrubbing, pure Column
                            regexp chain (patterns restricted to the
                            Java∩RE2 dialect so the DuckDB twin is
                            bit-exact); emits per-kind counts + the sha
                            of the redacted text.
* ``pack_sequences``      — training-batch assembly: concat-and-chunk
                            packing offsets (GPT-style) per doc — global
                            exclusive token cumsum in doc order via the
                            same two-pass offset scheme, then window ids
                            out of a fixed token budget.
* ``corpus_mix``          — composition/governance report per
                            (source, lang): docs, tokens, corpus share.

Every hash here is the portable sha-based ``hash64_sha`` so the DuckDB
twin is bit-exact; the xxhash64 fast path used by the dedup operators is
available via the same seam but not needed for these (ids hash once per
row, never per pair).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from identity_matching_spark.functions.hashing import hash64_sha

#: split thresholds out of 1000 hash buckets: [0,900) train, [900,950)
#: val, [950,1000) test. Content-independent (id-keyed) so re-crawls of
#: the same document never migrate across splits.
SPLIT_BUCKETS = 1000
SPLIT_EDGES = (900, 950)

#: default per-language keep rates for the stratified sampler (the
#: corpus-balancing shape: downsample over-represented languages).
DEFAULT_RATES = {"en": 1.0, "de": 0.5, "es": 0.5, "fr": 0.25, "zh": 0.25}
RATE_DENOM = 10_000

#: eval-set selector for the decontamination scan on the synthetic
#: corpus: every 37th doc plays the benchmark.
EVAL_MOD = 37
DECON_NGRAM = 3


def _norm_tokens(text):
    """Lowercased whitespace-normalized token array (same normalization
    chain as the dedup operators, so DuckDB's string_split twin agrees)."""
    norm = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.filter(F.split(norm, " "), lambda x: x != "")


def split_assign(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic train/val/test assignment.

    bucket = portable_hash(id) % 1000 — a pure projection (no shuffle, no
    state); any worker can recompute a row's split, which is what makes
    the assignment safe under retries and re-crawls at 100 TB.
    """
    bucket = F.pmod(hash64_sha(F.col(id_col)), F.lit(SPLIT_BUCKETS))
    lo, hi = SPLIT_EDGES
    return docs.select(
        F.col(id_col),
        bucket.alias("bucket"),
        F.when(bucket < lo, F.lit("train"))
        .when(bucket < hi, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )


def sample_stratified(
    docs: DataFrame,
    strata_col: str = "lang",
    rates: dict[str, float] | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum downsampling.

    keep iff portable_hash(id ':' stratum) % 10000 < rate*10000. Unlike
    ``df.sampleBy`` (seeded RNG over partition order) this is a pure
    row-local predicate: stable across partitioning, retries, and
    engines, so the oracle can replay it exactly.
    """
    rates = DEFAULT_RATES if rates is None else rates
    h = F.pmod(
        hash64_sha(F.concat_ws(":", F.col(id_col).cast("string"), F.col(strata_col))),
        F.lit(RATE_DENOM),
    )
    thresh = F.when(F.lit(False), F.lit(0))
    for k, v in sorted(rates.items()):
        thresh = thresh.when(F.col(strata_col) == k, F.lit(int(v * RATE_DENOM)))
    return docs.select(id_col, strata_col).filter(h < thresh.otherwise(F.lit(0)))


def _distinct_ngrams(text, n: int):
    """Distinct word-n-gram array of a text column (empty when the doc is
    shorter than n words). The >= n guard matters: Spark's ``sequence``
    counts DOWN when stop < start, which would emit phantom indexes."""
    toks = _norm_tokens(text)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def decontaminate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = DECON_NGRAM,
    eval_mod: int = EVAL_MOD,
) -> DataFrame:
    """Benchmark-leakage scan: training docs sharing any word-``n``-gram
    with the eval slice (``id % eval_mod = 0``), with the shared count.

    Scale shape: the eval n-gram set is tiny relative to the corpus (a
    benchmark suite, not a crawl) — it distinct-reduces then BROADCASTS,
    so the training side is one scan + broadcast-semi join + partial-agg
    groupBy. Nothing shuffles the corpus.
    """
    grams = docs.select(
        F.col(id_col), _distinct_ngrams(F.col(text_col), n).alias("grams")
    )
    train = grams.filter(F.col(id_col) % eval_mod != 0).select(
        id_col, F.explode("grams").alias("gram")
    )
    eval_grams = (
        grams.filter(F.col(id_col) % eval_mod == 0)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    return (
        train.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared_ngrams"))
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document repetition signals (quality-filter features, after
    Rae et al. 2021 'MassiveText' §A1.1, computed on word tokens):

    * distinct_token_ratio — |distinct tokens| / |tokens|
    * top_token_fraction   — occurrences of the most frequent token / |tokens|
    * dup_2gram_fraction   — 1 - |distinct 2-grams| / |2-grams|

    distinct/2-gram ratios are pure array expressions (no shuffle); the
    top-token count is an explode + two-level partial-aggregated groupBy
    keyed by doc — linear, map-side combined, no wide rows.
    """
    toks = _norm_tokens(F.col(text_col))
    base = docs.select(F.col(id_col), toks.alias("toks"))
    n = F.size("toks")
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat_ws(" ", F.slice(F.col("toks"), i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    arr_stats = base.select(
        id_col,
        n.alias("n_tokens"),
        F.when(n > 0, F.round(F.size(F.array_distinct("toks")) / n, 4))
        .otherwise(F.lit(0.0))
        .alias("distinct_token_ratio"),
        F.when(
            F.size(grams) > 0,
            F.round(1.0 - F.size(F.array_distinct(grams)) / F.size(grams), 4),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_2gram_fraction"),
    )
    top = (
        base.select(id_col, F.explode("toks").alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("top_c"), F.sum("c").alias("n"))
        .select(
            id_col, F.round(F.col("top_c") / F.col("n"), 4).alias("top_token_fraction")
        )
    )
    return arr_stats.join(top, id_col, "left").fillna({"top_token_fraction": 0.0})


#: PII patterns, restricted to the dialect Java's regex and DuckDB's RE2
#: share (no lookaround, no backrefs) so the twin replays them bit-exact.
#: Applied IN ORDER, each count taken on the text state before its own
#: replacement — both engines run the identical chain.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]

#: fixed token budget per packed training sequence.
SEQ_BUDGET = 2048


def redact_pii(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII scrubbing (emails, SSNs, phone numbers, IPv4 addresses).

    A pure Column regexp chain — one codegen'd projection, no shuffle, no
    Python; the 100 TB shape is exactly this (the scan IS the cost).
    Emits per-kind redaction counts and the sha256 of the scrubbed text,
    so the content invariant of the redacted corpus is checkable the same
    way as the raw one.

    COVERAGE LIMITS (ADVICE r4) — the patterns are deliberately restricted
    to the Java∩RE2 regex dialect so the DuckDB twin replays them
    bit-exact, and they are NOT a complete PII scrub: phone matches only
    ``NNN-NNN-NNNN`` / ``NNN.NNN.NNNN`` (not ``(555) 123-4567``,
    ``555 123 4567`` or ``+1-...`` international forms), ipv4 accepts
    octets > 255, and no postal-address / name / IBAN / credit-card
    detection exists. Treat this operator as the scrubbing *pipeline
    shape* (chain order, pre-replacement counts, redacted-sha invariant);
    a governance deployment swaps ``PII_PATTERNS`` for a vetted library
    of patterns, which changes nothing structural.
    """
    cur = F.col(text_col)
    counts = []
    for kind, pat, token in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{kind}"))
        cur = F.regexp_replace(cur, pat, token)
    return docs.select(
        F.col(id_col),
        *counts,
        F.sha2(cur, 256).alias("redacted_sha"),
        F.length(cur).alias("n_chars_redacted"),
    )


def pack_sequences(
    docs: DataFrame,
    budget: int = SEQ_BUDGET,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Training-batch assembly offsets: concat-and-chunk packing.

    GPT-style packing concatenates the token streams of all docs in a
    fixed order and slices fixed-``budget`` windows; a doc's placement is
    fully determined by the EXCLUSIVE cumulative token count before it.
    Emits per doc: token count, that global offset, and the first/last
    window ids it lands in (a doc may straddle a boundary).

    A global ordered window would cumsum on ONE task; this reuses the
    two-pass offset scheme of ``global_shuffle``: range-bucket by id
    (pass 1 aggregates per-bucket token sums — O(buckets) on the driver),
    pass 2 sorts within buckets and adds offset[bucket] + a running local
    sum. Identical output to the single-window plan at any parallelism.
    """
    from pyspark import StorageLevel

    toks = _norm_tokens(F.col(text_col))
    # Persist the slim (id, n_tokens) base BEFORE any driver collect
    # (ADVICE r4): the per-bucket sum pass and the mapInPandas offset pass
    # must observe identical rows — without the pin, upstream
    # non-determinism could break the gap-free tok_offset invariant, and
    # the tokenize scan would run twice. Handed back on the result as
    # ``_pack_base_cache`` for callers that want to unpersist.
    base = docs.select(F.col(id_col), F.size(toks).alias("n_tokens")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    lo_hi = base.agg(
        F.min(id_col).alias("lo"), F.max(id_col).alias("hi")
    ).collect()[0]
    spark = docs.sparkSession
    n_buckets = max(2 * spark.sparkContext.defaultParallelism, 16)
    span = int(lo_hi["hi"]) - int(lo_hi["lo"]) + 1 if lo_hi["hi"] is not None else 1
    stride = max(1, (span + n_buckets - 1) // n_buckets)
    keyed = base.withColumn(
        "_bkt", ((F.col(id_col) - F.lit(int(lo_hi["lo"] or 0))) / F.lit(stride)).cast("long")
    )
    sums = keyed.groupBy("_bkt").agg(F.sum("n_tokens").alias("s")).collect()
    offsets = {}
    acc = 0
    for row in sorted(sums, key=lambda r: r["_bkt"]):
        offsets[int(row["_bkt"])] = acc
        acc += int(row["s"])
    parts = keyed.repartition(n_buckets, "_bkt").sortWithinPartitions("_bkt", id_col)
    out_schema = T.StructType(
        [
            parts.schema[id_col],
            T.StructField("n_tokens", T.IntegerType()),
            T.StructField("tok_offset", T.LongType()),
            T.StructField("seq_first", T.LongType()),
            T.StructField("seq_last", T.LongType()),
        ]
    )

    def _add_offsets(it):
        run: dict[int, int] = {}
        for pdf in it:
            offs = [0] * len(pdf)
            for i, (b, n) in enumerate(zip(pdf["_bkt"], pdf["n_tokens"])):
                b = int(b)
                cur = run.get(b, offsets.get(b, 0))
                offs[i] = cur
                run[b] = cur + int(n)
            out = pdf[[id_col, "n_tokens"]].copy()
            out["tok_offset"] = offs
            out["seq_first"] = [o // budget for o in offs]
            out["seq_last"] = [
                (o + int(n) - 1) // budget if int(n) > 0 else o // budget
                for o, n in zip(offs, pdf["n_tokens"])
            ]
            yield out

    out = parts.mapInPandas(_add_offsets, out_schema)
    out._pack_base_cache = base
    return out


def corpus_mix(
    docs: DataFrame, by: tuple[str, ...] = ("source", "lang"), text_col: str = "text"
) -> DataFrame:
    """Corpus composition report per stratum (governance surface): doc
    count, token sum, and each stratum's share of all docs. One map-side-
    combined groupBy; the share window runs over the tiny aggregated
    frame (|sources| x |langs| rows), never the corpus."""
    from pyspark.sql import Window

    toks = _norm_tokens(F.col(text_col))
    agg = docs.groupBy(*by).agg(
        F.count("*").alias("n_docs"), F.sum(F.size(toks)).alias("n_tokens")
    )
    total = F.sum("n_docs").over(Window.partitionBy())
    return agg.select(
        *by,
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") / total, 6).alias("doc_share"),
    )


_CTRL_RE = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"


def normalize_text_nfc(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Unicode canonicalization: NFC -> strip C0/DEL controls (keeping
    \\t \\n \\r as whitespace) -> collapse whitespace -> trim. Emits the
    sha256 + length of the canonical text (the dedup-key shape; the text
    itself stays in place for downstream ops).

    NFC has no Column builtin, so this is the one corpus-prep step that
    crosses Arrow — a batched pandas UDF (unicodedata.normalize per
    batch), never per-row Python. DuckDB twin: ``nfc_normalize`` + the
    same regex chain.
    """
    def _nfc_batch(s):
        import unicodedata

        return s.map(lambda x: unicodedata.normalize("NFC", x) if x is not None else None)

    # lambda-style registration: the module-level `from __future__ import
    # annotations` stringifies type hints, which pandas_udf's hint parser
    # rejects — pass the return type explicitly instead.
    _nfc = F.pandas_udf(_nfc_batch, T.StringType())

    canon = F.trim(
        F.regexp_replace(F.regexp_replace(_nfc(F.col(text_col)), _CTRL_RE, ""), r"\s+", " ")
    )
    return docs.select(
        F.col(id_col),
        F.sha2(canon, 256).alias("norm_sha"),
        F.length(canon).alias("n_chars_norm"),
    )


def global_shuffle(
    docs: DataFrame,
    id_col: str = "doc_id",
    seed: int = 42,
    n_buckets: int | None = None,
) -> DataFrame:
    """Deterministic training order: rank every doc by a seeded portable
    hash (id as an unconditional tiebreak).

    A global ``row_number`` window would sort on ONE task; this is the
    scale-correct two-pass rank. Rows get a row-local RANGE bucket
    (``shuffle_key // stride`` — no boundary sampling, so both passes see
    identical buckets), pass 1 collects per-bucket counts (O(buckets)),
    pass 2 shuffles by bucket, sorts within partitions, and adds
    offset[bucket] + within-bucket index. Hash keys are uniform, so the
    buckets are balanced without sampling. Identical output to the
    single-window plan at any parallelism. The keyed slim relation is
    persisted before the count pass (handed back as ``_shuffle_keyed_cache``),
    so both passes see the same rows even over a non-deterministic input.
    """
    from pyspark import StorageLevel

    spark = docs.sparkSession
    if n_buckets is None:
        n_buckets = max(2 * spark.sparkContext.defaultParallelism, 16)
    # hash64_sha yields 60-bit non-negative keys (15 hex nibbles)
    stride = ((1 << 60) + n_buckets - 1) // n_buckets
    keyed = docs.select(
        F.col(id_col),
        hash64_sha(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))).alias(
            "shuffle_key"
        ),
    ).withColumn("_bkt", (F.col("shuffle_key") / F.lit(stride)).cast("long")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    counts = keyed.groupBy("_bkt").count().collect()
    offsets = {}
    acc = 0
    for row in sorted(counts, key=lambda r: r["_bkt"]):
        offsets[int(row["_bkt"])] = acc
        acc += row["count"]
    parts = keyed.repartition(n_buckets, "_bkt").sortWithinPartitions(
        "_bkt", "shuffle_key", id_col
    )
    out_schema = T.StructType(
        [
            parts.schema[id_col],
            T.StructField("shuffle_key", T.LongType()),
            T.StructField("position", T.LongType()),
        ]
    )

    def _add_pos(it):
        seen: dict[int, int] = {}
        for pdf in it:
            pos = [0] * len(pdf)
            for i, b in enumerate(pdf["_bkt"]):
                b = int(b)
                nxt = seen.get(b, offsets.get(b, 0))
                pos[i] = nxt
                seen[b] = nxt + 1
            out = pdf[[id_col, "shuffle_key"]].copy()
            out["position"] = pos
            yield out

    out = parts.mapInPandas(_add_pos, out_schema)
    out._shuffle_keyed_cache = keyed
    return out
