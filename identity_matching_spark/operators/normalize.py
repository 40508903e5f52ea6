"""Normalize: ``files(repo,path,commit,lang,content)`` -> ``records``.

The reference's analog is HAPI's search-parameter extraction — every
Patient write populates per-attribute index rows (HFJ_SPIDX tables,
executed via patientDao.search at IdentityMatching.java:1053). We do the
same once, columnar: derive every attribute the comparators and blocking
keys need, in a single projection over the scan (Catalyst prunes unused
columns and pushes any upstream filters below this projection).

Attribute mapping, files-domain <- patient-domain (SURVEY.md §1.4):

| derived column     | patient analog          | comparator |
|--------------------|-------------------------|------------|
| content_sha256     | MRN (strong id)         | C1/mrn     |
| file_id            | digital identifier      | C1/digitalId |
| norm_sha           | SSN (full)              | C1/ssn     |
| norm_sha last-4    | SSN4                    | C2         |
| stem               | name.family             | C3         |
| dir1               | name.given[0] (first)   | C4         |
| dir2               | name.given[1] (middle)  | C5/C6      |
| lang_norm          | us-core-birthsex        | C7         |
| size_bucket        | birthDate (day prec.)   | C8         |
| line_hashes        | address.line[]          | C9         |
| parent_dir         | address.city            | C10        |
| ext                | address.state           | C10        |
| stem (left-5)      | address.postalCode      | C11        |
| first_line_sha     | telecom phone           | C12        |
| last_line_sha      | telecom email           | C13        |
| sorted_lines_sha   | drivers license         | C1/DL      |
| shape_sha          | passport                | C1/PPN     |
| ins_member_sha     | insurance member        | C1         |
| ins_subscriber_sha | insurance subscriber    | C1         |

Every expression here also exists verbatim in ANSI SQL (DuckDB) — see
``__spark_entry__.oracle_sql`` — which is what makes the whole pipeline
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from identity_matching_spark.functions.hashing import hash64_sha, sha256_hex
from identity_matching_spark.functions.normalize import norm_ws
from identity_matching_spark.operators.driver_finish import collect_small, local_relation

SEP = ""  # unit separator for composite keys (chr(31) in SQL)


def _filename(path: Column) -> Column:
    return F.element_at(F.split(path, "/"), -1)


def _nonempty_trimmed_lines(content: Column) -> Column:
    return F.filter(
        F.transform(F.split(content, "\n"), lambda x: F.trim(x)), lambda x: x != ""
    )


def _h64_of(col_name: str):
    """60-bit bigint from a 64-char sha hex column (first 15 nibbles).

    The comparator/blocking hot path carries these 8-byte twins instead of
    the 64-byte hex strings — equality semantics are unchanged (false
    collision 2^-60 per pair, negligible at any corpus size) while shuffle
    and sort bandwidth drop ~8x per identity attribute. Portable:
    DuckDB ``CAST(concat('0x', substr(x,1,15)) AS BIGINT)``.
    """
    return F.conv(F.substring(F.col(col_name), 1, 15), 16, 10).cast("long")


#: hex-string column -> bigint twin used by compare/blocking
H64_PAIRS = [
    ("content_sha256", "content_h64"),
    ("file_id", "file_h64"),
    ("norm_sha", "norm_h64"),
    ("sorted_lines_sha", "sorted_lines_h64"),
    ("shape_sha", "shape_h64"),
    ("ins_member_sha", "ins_member_h64"),
    ("ins_subscriber_sha", "ins_subscriber_h64"),
    ("first_line_sha", "first_line_h64"),
    ("last_line_sha", "last_line_h64"),
]


#: id-map row count under which the didx join-back BROADCASTS the slim
#: (record_id, didx) map (~72 B/row -> ~70 MB at the default) so the wide
#: records relation never shuffles; above it the map shuffle-hash joins.
DENSE_ID_BROADCAST_LIMIT = 1_000_000

#: auto-scale target: one rank-window task sorts at most ~this many slim
#: (record_id) rows. 4M ids x 72 B ≈ 300 MB per window partition — well
#: inside an executor; the bucket count grows with the input instead.
DENSE_ID_TARGET_BUCKET_ROWS = 4_000_000


def with_dense_ids(
    records: DataFrame,
    prefix_nibbles: int | None = None,
    broadcast_limit: int = DENSE_ID_BROADCAST_LIMIT,
    target_bucket_rows: int = DENSE_ID_TARGET_BUCKET_ROWS,
    phonetic: bool = False,
) -> DataFrame:
    """Intern record ids to DENSE longs: ``didx`` = rank of record_id.

    Downstream joins keyed on didx hit Spark's LongHashedRelation dense
    mode (direct-address array, one indexed load per probe) instead of a
    sparse hash walk — the single biggest lever on the scoring kernel's
    probe memory traffic. Deterministic: same records -> same didx, on
    either path below and for every ``prefix_nibbles`` width (pytested in
    test_attach_dense.py).

    Driver finish (at most ``config.DRIVER_FINISH_ROWS`` ids): one collect
    of the ids, sorted and enumerated on the driver, joined back as a
    broadcast local relation. Python's str order is code-point order,
    which is the byte order of UTF-8, i.e. Spark's string order, so the
    ranks equal the distributed path's. The slim id column is cached only
    for that collect and dropped right after it, so nothing stays pinned
    and the records plan stays one broadcast join deep.

    With ``phonetic`` the same collect also carries each record's
    normalized given- and family-name analogs (``compare.phonetic_keys``),
    so the driver finish hands back ONE local relation
    ``(record_id, didx, cologne_dir1, metaphone_stem)``; ``soundex_stem``
    and the h64 twins are added as Column expressions, with the columns in
    ``compare.enrich_phonetic``'s order. Above the limit ``phonetic`` only
    widens the cached slim projection: the result carries dense ids alone,
    and the caller runs ``enrich_phonetic`` (no ``cologne_dir1`` column
    tells it to).

    Scale shape above the limit (no global window — a single-partition
    sort of 10^12 ids is a non-starter): record_id is fixed-width
    lowercase sha-hex, so its lexicographic order equals the numeric
    order of any hex prefix. Two linear passes over the SLIM id column,
    which the limit collect PERSISTED, so both passes observe identical
    rows and the collect's work is not repeated (the
    upstream normalize chain is sha-heavy and must not re-execute per
    pass, and a non-deterministic source must not let the offset pass
    disagree with the rank pass — ADVICE r4):

    1. count rows per ``16^prefix_nibbles`` order-preserving prefix
       buckets (one map-side-combined groupBy -> O(buckets) rows to the
       driver), prefix offsets = exclusive cumsum;
    2. rank WITHIN each bucket (hash-partitioned window, never
       SinglePartition); didx = bucket offset + local rank.

    ``prefix_nibbles=None`` (default) auto-scales the width to the input:
    ceil(log16(n / target_bucket_rows)) nibbles, so no rank window ever
    sees a multi-billion-row partition — 2 nibbles (256 buckets) up to
    ~10^9 ids, 5 nibbles (~1M buckets, ~1M-row driver collect) at 10^12.
    An explicit width is honored verbatim (tests force 4 to prove didx
    equality across widths).

    The id->didx map then joins back: broadcast below ``broadcast_limit``
    (the wide records relation never moves), shuffle-hash above it (two
    slim exchanges — the unavoidable arbitrary-scale plan). The persisted
    slim projection is handed to the caller on the result as
    ``_dense_slim_cache`` — the id map keeps reading it lazily, so it
    stays pinned until the pipeline's records barrier has read it.
    """
    import math

    from pyspark.sql import Window

    if "didx" in records.columns:  # already interned — idempotent
        return records
    spark = records.sparkSession
    if phonetic:
        from identity_matching_spark.operators.compare import (
            phonetic_codes,
            phonetic_keys,
            with_soundex_twins,
        )
    slim = records.select("record_id", *(phonetic_keys() if phonetic else ()))
    ids, slim_cache = collect_small(slim)
    if ids is not None:
        ordered = sorted(ids, key=lambda r: r[0])
        cols = {"record_id": [r[0] for r in ordered], "didx": list(range(len(ordered)))}
        schema = "record_id string, didx long"
        if phonetic:
            cols["cologne_dir1"], cols["metaphone_stem"] = phonetic_codes(
                [r[1] for r in ordered], [r[2] for r in ordered]
            )
            schema += ", cologne_dir1 string, metaphone_stem string"
        out = records.join(F.broadcast(local_relation(spark, cols, schema)), "record_id")
        return with_soundex_twins(out) if phonetic else out

    def _bucket(nib: int):
        return F.conv(F.substring("record_id", 1, nib), 16, 10).cast("long")

    nib = prefix_nibbles or 2
    counts = slim.groupBy(_bucket(nib).alias("_bkt")).count().collect()
    total = sum(int(r["count"]) for r in counts)
    if prefix_nibbles is None and total > target_bucket_rows:
        need = max(2, math.ceil(math.log(total / target_bucket_rows, 16)))
        if need > nib:  # re-count at the wider prefix (persisted slim scan)
            nib = need
            counts = slim.groupBy(_bucket(nib).alias("_bkt")).count().collect()
    offsets, acc = [], 0
    for row in sorted(counts, key=lambda r: r["_bkt"]):
        offsets.append((int(row["_bkt"]), acc))
        acc += int(row["count"])
    off_df = spark.createDataFrame(offsets, "_bkt long, _off long")
    w = Window.partitionBy("_bkt").orderBy("record_id")
    idmap = (
        slim.select("record_id", _bucket(nib).alias("_bkt"))
        .join(F.broadcast(off_df), "_bkt")
        .select(
            "record_id",
            (F.col("_off") + F.row_number().over(w) - F.lit(1)).cast("long").alias("didx"),
        )
    )
    if acc <= broadcast_limit:
        idmap = F.broadcast(idmap)
    else:
        idmap = idmap.hint("shuffle_hash")
    out = records.join(idmap, "record_id")
    out._dense_slim_cache = slim_cache
    return out


def normalize_files(files: DataFrame) -> DataFrame:
    """Derive the full comparator/blocking attribute set. One projection,
    no shuffle; keeps original (repo, path, commit, lang, content) so the
    per-row sha256 content invariant is verifiable downstream."""
    filename = _filename(F.col("path"))
    stem = F.regexp_replace(filename, r"\.[^.]*$", "")
    ext = F.lower(F.regexp_extract(filename, r"\.([^.]*)$", 1))
    dir_tokens = F.slice(
        F.split(F.col("path"), "/"), 1, F.greatest(F.size(F.split(F.col("path"), "/")) - 1, F.lit(0))
    )
    norm_content = norm_ws(F.col("content"))
    lines = _nonempty_trimmed_lines(F.col("content"))

    base = files.select(
        sha256_hex(F.concat_ws(SEP, "repo", "path", "commit")).alias("record_id"),
        "repo",
        "path",
        "commit",
        "lang",
        "content",
        F.lower(F.trim(F.col("lang"))).alias("lang_norm"),
        sha256_hex(F.col("content")).alias("content_sha256"),
        sha256_hex(F.concat_ws(SEP, "repo", "path")).alias("file_id"),
        sha256_hex(norm_content).alias("norm_sha"),
        norm_content.alias("norm_content"),
        stem.alias("stem"),
        ext.alias("ext"),
        F.when(F.size(dir_tokens) >= 1, F.element_at(dir_tokens, 1)).alias("dir1"),
        F.when(F.size(dir_tokens) >= 2, F.element_at(dir_tokens, 2)).alias("dir2"),
        F.when(F.size(dir_tokens) >= 1, F.element_at(dir_tokens, -1)).alias("parent_dir"),
        F.floor(F.length(norm_content) / F.lit(32)).cast("long").alias("size_bucket"),
        sha256_hex(F.trim(F.element_at(F.split(F.col("content"), "\n"), 1))).alias(
            "first_line_sha"
        ),
        sha256_hex(F.trim(F.element_at(F.split(F.col("content"), "\n"), -1))).alias(
            "last_line_sha"
        ),
        # 64-bit line hashes (not hex strings): arrays_overlap over longs is
        # ~an order cheaper than over strings, and the shuffled row shrinks
        F.array_distinct(F.transform(lines, lambda x: hash64_sha(x))).alias("line_hashes"),
        sha256_hex(F.array_join(F.array_sort(F.array_distinct(lines)), "\n")).alias(
            "sorted_lines_sha"
        ),
        sha256_hex(
            F.regexp_replace(F.col("content"), r"[A-Za-z_][A-Za-z0-9_]*", "ID")
        ).alias("shape_sha"),
        sha256_hex(F.concat_ws(SEP, F.col("repo"), F.lower(stem))).alias("ins_member_sha"),
        sha256_hex(
            F.concat_ws(
                SEP,
                F.lower(F.trim(F.col("lang"))),
                F.regexp_replace(F.col("path"), r"/[^/]*$", ""),
            )
        ).alias("ins_subscriber_sha"),
    )
    def _xx64(col_name: str) -> Column:
        """Null-preserving 8-byte twin of a raw string attribute (Spark's
        xxhash64 of NULL is the seed, which would make NULLs equal — the
        comparators need NULL = no-match, so NULL stays NULL). Equality on
        the twin is the comparator's string equality with 2^-64 false-hit
        odds per pair; the pair stream carries the long, not the string."""
        c = F.col(col_name)
        return F.when(c.isNotNull(), F.xxhash64(c))

    return base.select(
        "*",
        F.substring(F.col("norm_sha"), 61, 4).alias("ssn4"),
        *[_h64_of(src).alias(dst) for src, dst in H64_PAIRS],
        # twins for the path-token comparator attributes (C3-C6, C10): the
        # broadcast probe rows in compare.attach_sides carry these longs
        # instead of the strings. stem keeps its string in the probe row
        # too (C11 postal-prefix substring + the JW/lev probe need it);
        # dir2's initial rule (C6) needs only first-char + length-1, both
        # precomputed here so the string itself never ships.
        _xx64("stem").alias("stem_h64"),
        _xx64("dir1").alias("dir1_h64"),
        _xx64("dir2").alias("dir2_h64"),
        _xx64("parent_dir").alias("parent_dir_h64"),
        _xx64("ext").alias("ext_h64"),
        F.when(F.col("dir2").isNotNull(), F.substring(F.col("dir2"), 1, 1)).alias(
            "dir2_initial"
        ),
        F.when(F.col("dir2").isNotNull(), F.length(F.col("dir2")) == 1).alias(
            "dir2_is1"
        ),
        # Long twins for the remaining equality-only comparator attributes —
        # with these, every scalar in the scoring kernel's broadcast probe
        # row is an 8-byte long (C11's postal prefix and C6's initial are
        # hashed AFTER the substring, so the semantics stay "prefix
        # equality" while the probe row sheds its last strings; the
        # measured binder on single-host scaling is the resident probe-set
        # size — BENCH/BASELINE.md memory-ceiling note).
        F.when(
            F.col("dir2").isNotNull(), F.xxhash64(F.substring(F.col("dir2"), 1, 1))
        ).alias("dir2_init_h64"),
        F.when(
            F.col("stem").isNotNull(), F.xxhash64(F.substring(F.col("stem"), 1, 5))
        ).alias("postal5_h64"),
        _xx64("lang_norm").alias("lang_h64"),
        F.xxhash64(F.substring(F.col("norm_sha"), 61, 4)).alias("ssn4_h64"),
    )
