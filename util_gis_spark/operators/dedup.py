"""Training-data deduplication operators over the documents table:

- exact dedup (md5 hash-groupBy) — in queries.py
- MinHash + LSH banding -> candidate pairs -> exact Jaccard verify
- SimHash (bit-majority fingerprint) + hamming-radius pairs
- n-gram Jaccard verification kernel

The MinHash and SimHash signatures are Arrow kernels (grouped.map_apply)
bit-identical to their DuckDB twins; banding and verification are JVM-side
Spark expressions. Every constant lives HERE so the Spark pipeline and
the DuckDB oracle (built by the *_sql functions) cannot drift.

Scale notes: MinHash-LSH is the linear-scale path (band buckets ->
shuffle join on (band, hash)); exact pairwise Jaccard only runs on
band-collision candidates. At 10^12 docs the band join is the same
cell-join pattern as the spatial engine: hash-partition on band
bucket, AQE skew handling for hot buckets (boilerplate dedup text).
"""

from __future__ import annotations

import hashlib
import re as _re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .grouped import map_apply

# The ONE kernel tokenizer (r6 review: three kernels carried private
# copies of the compile + filter). ASCII \s+ == Spark's Java \s+ split
# and the oracle's explicit class (_toks_sql); str.split() would also
# split Unicode whitespace (e.g. NBSP) and silently diverge.
_WS_ASCII = _re.compile(r"\s+", _re.ASCII)


def _tokens(text: str) -> list[str]:
    return [t for t in _WS_ASCII.split(text) if t]

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = 4
MOD30 = 1 << 30  # shingle hash domain (keeps a*h within int64)
_A = [(37 + 8 * i) * 2654435761 % 1048573 for i in range(N_HASHES)]  # a_i < 2^20
_B = [(101 + 31 * i) * 48271 % MOD30 for i in range(N_HASHES)]
_P = 1073741789  # largest prime < 2^30


def _toks_sql(col: str = "text") -> str:
    # explicit class, NOT '\\s+': DuckDB's RE2 \s is [\t\n\f\r ] —
    # missing \x0B (vertical tab) — while Java \s (the Spark split)
    # and Python re.ASCII \s both include it, so '\\s+' silently
    # tokenized 'a\x0Bb' differently across engines (r6 review)
    return f"list_filter(string_split_regex({col}, '[ \\t\\n\\r\\f\\v]+'), x -> length(x) > 0)"


def bigrams_sql() -> str:
    return (
        "list_distinct(CASE WHEN len(_toks) < 2 THEN [] ELSE "
        "list_transform(generate_series(1, len(_toks)-1), i -> concat(_toks[i], ' ', _toks[i+1])) END)"
    )


def char3grams_sql() -> str:
    """Distinct character 3-gram shingles (DuckDB; substring is
    character-based, matching Python slicing in the Arrow kernel)."""
    return (
        "list_distinct(CASE WHEN length(text) < 3 THEN [] ELSE "
        "list_transform(generate_series(1, length(text)-2), i -> substring(text, i, 3)) END)"
    )


def shingle_hash_sql() -> str:
    return (
        "list_transform(_shingles, s -> "
        f"cast(concat('0x', substring(md5(s), 1, 15)) as bigint) % {MOD30})"
    )


def minhash_sig_sql() -> str:
    parts = ", ".join(
        f"list_min(list_transform(_hashes, h -> ({a} * h + {b}) % {_P}))" for a, b in zip(_A, _B)
    )
    return f"[{parts}]"


def band_hash_expr(band: int) -> str:
    lo = band * ROWS_PER_BAND
    cols = ", ".join(f"cast(_sig[{lo + i}] as string)" for i in range(ROWS_PER_BAND))
    return f"md5(concat_ws(',', {cols}))"


def band_hash_sql(band: int) -> str:
    lo = band * ROWS_PER_BAND + 1  # DuckDB lists are 1-based
    cols = ", ".join(f"cast(_sig[{lo + i}] as varchar)" for i in range(ROWS_PER_BAND))
    return f"md5(concat_ws(',', {cols}))"


def _sig_kernel(docs: DataFrame, shingler: str = "word_pair") -> DataFrame:
    """Arrow kernel computing per-doc (shingle-hash array, signature):
    hashlib.md5 == SQL md5 byte-for-byte, and the 16 permutations run
    as one numpy matrix op — ~10x faster than interpreted HOFs while
    staying oracle-identical."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    a = np.asarray(_A, dtype=np.int64)[:, None]
    b = np.asarray(_B, dtype=np.int64)[:, None]

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("_hashes", T.ArrayType(T.LongType())),
            T.StructField("_sig", T.ArrayType(T.LongType())),
        ]
    )

    def run(pdf):
        ids, hs, sigs = [], [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            if shingler == "char3":
                sh = sorted({text[i : i + 3] for i in range(len(text) - 2)})
            else:
                toks = _tokens(text)  # the one ASCII-\s+ tokenizer
                sh = sorted({f"{x} {y}" for x, y in zip(toks, toks[1:])})
            if not sh:
                continue
            h = np.fromiter((_md5_60(s) % MOD30 for s in sh), dtype=np.int64, count=len(sh))
            sig = ((a * h[None, :] + b) % _P).min(axis=1)
            ids.append(doc_id)
            hs.append(h.tolist())
            sigs.append(sig.tolist())
        return pd.DataFrame({"doc_id": ids, "_hashes": hs, "_sig": sigs})

    # NULL text has no shingles
    return map_apply(docs.select("doc_id", "text"), run, schema, skip_null=("text",))


def band_table_expr() -> str:
    """All 4 (band, band-hash) pairs of a signature row as ONE array —
    explode(this) replaces the r2 4-way union of the base plan, so the
    signature kernel runs once per row instead of once per band."""
    entries = ", ".join(
        f"named_struct('band', {b}, 'bh', {band_hash_expr(b)})" for b in range(N_BANDS)
    )
    return f"array({entries})"


def minhash_bands(sigs: DataFrame, carry=()) -> DataFrame:
    """(doc_id, *carry, band, bh): the MinHash LSH partition of a
    (doc_id, _sig, ...) signature table, the one definition the
    in-query, staged, incremental and streaming paths all use.
    The band table is exploded once, so the signature subplan runs
    once per row. `carry` columns ride along (the stream carries
    `_sig` into its bucket state)."""
    return sigs.select(
        "doc_id", *carry, F.explode(F.expr(band_table_expr())).alias("_b")
    ).select("doc_id", *carry, "_b.band", "_b.bh")


def _bkey():
    """The bucketed stage's composite band key "<band>:<bh>" over a
    minhash_bands frame. Incremental runs join new bands against stages
    already on disk on this text, so it must stay byte-identical."""
    return F.concat_ws(":", F.col("band").cast("string"), F.col("bh")).alias("bkey")


def _local_cache(df: DataFrame) -> DataFrame:
    """`df` as a lazily computed, locally checkpointed relation: the
    first action that reads it fills MEMORY_AND_DISK blocks, and every
    later consumer reads those. The dedup intermediates feed several
    consumers each; uncached, each re-runs the signature kernel
    (measured 2x whole-query cost: 5k docs 2.75 vs 1.25 s, 50k 3.65 vs
    1.89 s). The blocks belong to the returned plan and every DataFrame
    derived from it, and Spark's ContextCleaner frees them once the
    last reference is gone; nothing is kept here, so results built on
    any thread, consumed in any order, never evict each other.
    Trade-off: local-checkpoint blocks are not recomputed after an
    executor is lost, so a job that needs a lost block fails. An
    Exchange below `df` (the capped-bands window, a shuffling input)
    runs its shuffle stage when this is called."""
    from pyspark import StorageLevel

    return df.localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)


def minhash_near_dup_pairs(
    docs: DataFrame,
    jaccard_threshold: float = 0.5,
    shingler: str = "word_pair",
    max_band_bucket: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs colliding in >= 1 LSH band and
    passing the exact shingle-Jaccard verify. doc_a < doc_b.

    Note the shingle tokenization is the shared ASCII-\\s+ regex split
    (`_tokens` — NOT str.split(), which also splits Unicode whitespace
    and diverges from the oracle); the Jaccard verify runs on 30-BIT
    REDUCED md5 shingle hashes, so two distinct shingles collide with
    p ~ 2^-30 — a doc with ~50 shingles diverges from the oracle's
    string-set Jaccard with p ~ 1e-6 per candidate pair (r6 review:
    an earlier note here claimed the full-md5 2^-45 bound, off by
    ~2^15). Near a decision threshold at 10^12-doc scale that is a
    steady trickle; widen the reduction (MOD30) if exactness at the
    threshold matters more than the shuffle width.

    Plan shape: the signature table feeds four consumers (both band
    join sides, both verify joins), so it (and, with `max_band_bucket`,
    the capped bands) is cached for the result's lifetime
    (`_local_cache`). The bands come from one explode: r2's 4-way union
    ran the kernel 6x (3.6 s -> 0.7 s). For repeated or large runs use
    the bucketed stage (write_minhash_stage / minhash_pairs_from_stage),
    which also skips the band-join shuffle."""
    base = _local_cache(_sig_kernel(docs, shingler=shingler))
    # band join carries ONLY (doc_id, band, hash) — the wide shingle
    # arrays are re-attached by key afterwards, so the x4-band shuffle
    # stays narrow (at 10^12 docs the shingles would be TBs x4)
    bands = minhash_bands(base)
    if max_band_bucket:
        # boilerplate-band capping, the standard web-dedup mitigation:
        # a band bucket holding B docs yields B^2/2 candidate pairs, so
        # one shared boilerplate prefix makes candidates QUADRATIC in
        # the hot fraction (measured: the 30% hot-prefix generator took
        # the 10x ladder slope from ~linear to 17x). Buckets larger
        # than the cap are dropped wholesale — their members agree on
        # boilerplate, not content, so the recall lost is concentrated
        # exactly where near-dup signal is weakest. Off by default
        # (exact semantics = oracle parity). Window count, NOT a
        # groupBy+self-join: the join form re-evaluated the signature
        # kernel subplan a second time for the sizes side. The capped
        # bands are cached because they feed both self-join sides, and
        # the count window (shuffle + sort over every band row) would
        # otherwise run once per side.
        from pyspark.sql import Window as _W

        bands = _local_cache(
            bands.withColumn("_bn", F.count("*").over(_W.partitionBy("band", "bh")))
            .filter(F.col("_bn") <= max_band_bucket)
            .drop("_bn")
        )
    cand = band_self_join(bands, "doc_id").select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b")
    )
    return _jaccard_verify(cand, base.select("doc_id", "_hashes"), jaccard_threshold)


def band_self_join(bands: DataFrame, id_col: str, carry=()) -> DataFrame:
    """The LSH band-collision self-join every banded dedup operator
    shares (MinHash, both SimHash widths, image pHash, embedding
    cosine): from rows of (id_col, band, bh, *carry), the DISTINCT
    pairs (a, b) with a < b that share at least one (band, bh), with
    each carry column c from both sides as c_a and c_b. Every operator
    keeps its own band construction and verify step; only this join
    shape is common, so a plan-shape fix lands in all of them.

    Carry columns ride the band shuffle, so carry only narrow ones
    (fingerprints); wide payloads (shingle arrays, embeddings) are
    re-attached by id after the pair dedup. A pair colliding in several
    bands keeps one row, so carry values must be a function of the id."""
    def side(s):
        return bands.select(
            F.col(id_col).alias(s), *[F.col(c).alias(f"{c}_{s}") for c in carry], "band", "bh"
        )

    return (
        side("a")
        .join(side("b"), ["band", "bh"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", *[f"{c}_{s}" for s in "ab" for c in carry])
        .dropDuplicates(["a", "b"])
    )


def _jaccard_verify(
    cand: DataFrame,
    hashes: DataFrame,
    jaccard_threshold: float,
    hashes_b: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-hash Jaccard on (doc_a, doc_b) candidates against a
    (doc_id, _hashes) table; shared by the in-query and the bucketed-
    stage paths so the verify semantics cannot drift. `hashes_b` lets
    the two sides come from different tables (incremental dedup: new
    batch vs corpus stage)."""
    cand = (
        cand.join(
            hashes.select(F.col("doc_id").alias("doc_a"), F.col("_hashes").alias("sa")), "doc_a"
        ).join(
            (hashes if hashes_b is None else hashes_b).select(
                F.col("doc_id").alias("doc_b"), F.col("_hashes").alias("sb")
            ),
            "doc_b",
        )
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    jac = F.round(inter / union, 4)
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def write_minhash_stage(
    docs: DataFrame,
    prefix: str,
    n_buckets: int = 16,
    shingler: str = "word_pair",
    mode: str = "overwrite",
) -> None:
    """Materialize the MinHash signature stage as bucketed tables so
    REPEAT dedup runs (the normal warehouse cadence: new shard arrives,
    re-dedup against the corpus) skip both the signature kernel and the
    band-join Exchanges:

    - `{prefix}_bands` (doc_id, bkey): one row per (doc, band), bucketed
      AND sorted by the composite band key — the self-join planner sees
      matching bucketed scans on both sides and plans an exchange-free
      SortMergeJoin (Exchange 2 -> 0, asserted in tests).
    - `{prefix}_hashes` (doc_id, _hashes): the verify-side shingle
      hashes, bucketed by doc_id for the candidate re-attach joins.

    Local managed tables stand in for Iceberg `bucket(N, key)` partition
    transforms at warehouse scale. `mode="append"` extends an existing
    stage with a newly-ingested batch (the post-dedup step of the
    incremental cadence: dedup the batch against the stage, then fold
    it in)."""
    from pyspark import StorageLevel

    from ..io.bucketed import write_bucketed

    base = _sig_kernel(docs, shingler=shingler).persist(StorageLevel.MEMORY_AND_DISK)
    bands = minhash_bands(base).select("doc_id", _bkey())
    write_bucketed(bands, f"{prefix}_bands", bucket_col="bkey", n_buckets=n_buckets, mode=mode)
    write_bucketed(
        base.select("doc_id", "_hashes"), f"{prefix}_hashes", bucket_col="doc_id",
        n_buckets=n_buckets, mode=mode,
    )
    base.unpersist()


def minhash_pairs_from_stage(
    spark, prefix: str, jaccard_threshold: float = 0.5
) -> DataFrame:
    """minhash_near_dup_pairs over a pre-written bucketed stage: the
    band self-join runs with ZERO Exchange operators (both scans are
    co-bucketed on bkey). Output rows are identical to the in-query
    path on the same documents."""
    bands = spark.table(f"{prefix}_bands")
    cand = (
        bands.alias("l")
        .join(bands.alias("r"), "bkey")
        .filter(F.col("l.doc_id") < F.col("r.doc_id"))
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _jaccard_verify(cand, spark.table(f"{prefix}_hashes"), jaccard_threshold)


def minhash_dedup_incremental(
    new_docs: DataFrame,
    prefix: str,
    jaccard_threshold: float = 0.5,
    shingler: str = "word_pair",
) -> DataFrame:
    """Dedup an ARRIVING batch against an existing corpus stage — the
    normal warehouse cadence (new shard lands, check it against the
    10^12-doc corpus) — WITHOUT recomputing any corpus signature:
    only the new batch runs the signature kernel; its bands join the
    pre-bucketed `{prefix}_bands` table (the corpus side reads its
    buckets with no Exchange); the verify re-attaches new-side hashes
    from the fresh kernel and corpus-side hashes from
    `{prefix}_hashes`. Returns (doc_a = new batch id, doc_b = corpus
    id, jaccard). Assumes disjoint id spaces (rows with doc_a == doc_b
    are dropped as self-matches of re-ingested docs).

    The new batch's signatures feed two consumers (bands + verify) and
    are cached for the lifetime of the returned DataFrame
    (`_local_cache`), so a long-lived ingest loop releases each batch
    by dropping its result."""
    spark = new_docs.sparkSession
    base = _local_cache(_sig_kernel(new_docs, shingler=shingler))
    new_bands = minhash_bands(base).select(F.col("doc_id").alias("doc_a"), _bkey())
    corpus_bands = spark.table(f"{prefix}_bands").select(
        F.col("doc_id").alias("doc_b"), "bkey"
    )
    cand = (
        new_bands.join(corpus_bands, "bkey")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _jaccard_verify(
        cand,
        base.select("doc_id", "_hashes"),
        jaccard_threshold,
        hashes_b=spark.table(f"{prefix}_hashes"),
    )


def minhash_near_dup_pairs_sql(
    jaccard_threshold: float = 0.5, shingler: str = "word_pair", src: str = "SELECT * FROM documents"
) -> str:
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, _shingles, {b} AS band, {band_hash_sql(b)} AS bh FROM sigs"
        for b in range(N_BANDS)
    )
    return f"""
WITH base AS (
  SELECT doc_id, {_toks_sql()} AS _toks, text FROM ({src})
), sh AS (
  SELECT doc_id, {char3grams_sql() if shingler == "char3" else bigrams_sql()} AS _shingles FROM base
), hashed AS (
  SELECT doc_id, _shingles, {shingle_hash_sql()} AS _hashes FROM sh WHERE len(_shingles) > 0
), sigs AS (
  SELECT doc_id, _shingles, {minhash_sig_sql()} AS _sig FROM hashed
), bands AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b, l._shingles AS sa, r._shingles AS sb
  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT doc_a, doc_b,
         round(CAST(len(list_filter(sa, x -> list_contains(sb, x))) AS DOUBLE)
               / (len(sa) + len(sb) - len(list_filter(sa, x -> list_contains(sb, x)))), 4) AS jaccard
  FROM cand
) WHERE jaccard >= {jaccard_threshold}
"""


# ------------------------------------------------------------------ simhash
SIMHASH_BITS = 32
MOD32 = 1 << 32  # simhash token-hash domain: FULL fingerprint width


def simhash_token_hash_sql() -> str:
    return (
        "list_transform(_shingles, s -> "
        f"cast(concat('0x', substring(md5(s), 1, 15)) as bigint) % {MOD32})"
    )


def simhash_sql() -> str:
    terms = []
    for i in range(SIMHASH_BITS):
        cnt = f"len(list_filter(_hashes, h -> cast(floor(h / {1 << i}) as bigint) % 2 = 1))"
        terms.append(f"(CASE WHEN 2 * {cnt} > len(_hashes) THEN {1 << i} ELSE 0 END)")
    return " + ".join(terms)


# Per-worker md5 memo shared by the simhash token and minhash shingle
# kernels: natural-language vocabulary is orders of magnitude smaller
# than token/shingle INSTANCES, so the md5-per-string loop — the
# measured floor of the generated-corpus ladder after the r4 Arrow
# kernels — collapses to dict hits after warm-up. Pure memoization of
# a deterministic function (bit-identical output, asserted by the
# kernel-vs-HOF parity test and the driver oracles); bounded so a
# pathological vocabulary (random strings) cannot grow worker RSS
# unboundedly — at the cap the kernel simply computes md5 again.
_MD5_CACHE: dict = {}
_MD5_CACHE_MAX = 1 << 20


def _md5_60(s: str) -> int:
    """int(md5(s).hexdigest()[:15], 16) — the shared 60-bit hash both
    dedup kernels reduce (mod 2^32 / 2^30) to their domains."""
    v = _MD5_CACHE.get(s)
    if v is None:
        v = int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
        if len(_MD5_CACHE) < _MD5_CACHE_MAX:
            _MD5_CACHE[s] = v
    return v


def _token_hash32(t: str) -> int:
    return _md5_60(t) % MOD32


def _simhash_kernel(docs: DataFrame, hashers: tuple, cols: tuple) -> DataFrame:
    """(doc_id, *cols): one 32-bit SimHash fingerprint per token hasher —
    bit i set iff a strict majority of the doc's distinct tokens have bit
    i set in their hash, one numpy bit-matrix reduction per hasher.
    hashlib md5 == SQL md5 byte for byte. NULL text and token-less docs
    emit no row, as in simhash_docs_sql. Stateless, so it runs unchanged
    under Structured Streaming."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField(c, T.LongType()) for c in ("doc_id", *cols)]
    )
    weights = 1 << np.arange(SIMHASH_BITS, dtype=np.int64)

    def vote(h) -> int:
        bits = (h[:, None] >> np.arange(SIMHASH_BITS)) & 1
        return int(weights[2 * bits.sum(axis=0) > len(h)].sum())

    def run(pdf):
        ids, fps = [], []
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            toks = set(_tokens(text))  # the one ASCII-\s+ tokenizer
            if not toks:
                continue
            ids.append(doc_id)
            fps.append(
                [
                    vote(np.fromiter((th(t) for t in toks), dtype=np.int64, count=len(toks)))
                    for th in hashers
                ]
            )
        out = pd.DataFrame(fps, columns=list(cols))
        out.insert(0, "doc_id", ids)
        return out

    return map_apply(docs.select("doc_id", "text"), run, schema, skip_null=("text",))


def simhash_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — token-level 32-bit simhash (32 effective
    bits), bit-identical to the DuckDB twin simhash_docs_sql (asserted by
    the docs_simhash oracle and a dedicated parity test)."""
    return _simhash_kernel(docs, (_token_hash32,), ("simhash",))


def simhash_bands(fps: DataFrame, cols=("simhash",)) -> DataFrame:
    """(doc_id, *cols, band, bh): the SimHash LSH partition, one band
    per 16-bit half of each 32-bit fingerprint column — band 2i is the
    low half of cols[i], band 2i+1 its high half. ("simhash",) gives
    the two bands of the 32-bit operator and the stream; ("sim_lo",
    "sim_hi") the four of the 64-bit one. ONE explode, not a union:
    the union form re-ran the whole signature subplan once per branch
    AND per join side (measured 29.7 s -> 4.6 s at 2k generated docs,
    identical pairs)."""
    entries = ", ".join(
        f"named_struct('band', {2 * i + half}, 'bh', shiftright({c}, {16 * half}) & 65535)"
        for i, c in enumerate(cols)
        for half in (0, 1)
    )
    return fps.select("doc_id", *cols, F.explode(F.expr(f"array({entries})")).alias("_b")).select(
        "doc_id", *cols, "_b.band", "_b.bh"
    )


def _simhash_pairs(fps: DataFrame, cols, max_hamming: int) -> DataFrame:
    """(doc_a, doc_b, hamming) of a fingerprint table: simhash_bands
    collisions, then the exact popcount verify summed over `cols`."""
    hamming = " + ".join(f"bit_count({c}_a ^ {c}_b)" for c in cols)
    return (
        band_self_join(simhash_bands(_local_cache(fps), cols), "doc_id", carry=list(cols))
        .withColumn("hamming", F.expr(f"cast({hamming} as int)"))
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"), "hamming")
    )


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 2) -> DataFrame:
    """SimHash near-dup pairs: two 16-bit half-bands as the LSH over
    the 32-bit fingerprint (any pair within hamming<=1 is guaranteed
    to share a half — pigeonhole; hamming 2 is caught unless the flips
    straddle both halves; each half carries a full 16 effective bits,
    see simhash_token_hash_sql), then exact popcount verify."""
    return _simhash_pairs(simhash_docs(docs), ("simhash",), max_hamming)


def simhash_near_dup_pairs_sql(max_hamming: int = 2) -> str:
    inner = simhash_docs_sql().strip()
    band_rows = "\nUNION ALL\n".join(
        f"SELECT doc_id, simhash, {b} AS band, "
        f"cast(floor(simhash / {1 << (16 * b)}) as bigint) % 65536 AS bh FROM s"
        for b in range(2)
    )
    return f"""
WITH s AS ({inner}), bands AS (
  {band_rows}
), cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b, l.simhash AS ha, r.simhash AS hb
  FROM bands l JOIN bands r ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, cast(bit_count(xor(ha, hb)) as int) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= {max_hamming}
"""


def simhash_docs_sql() -> str:
    return f"""
SELECT doc_id, CAST({simhash_sql()} AS BIGINT) AS simhash FROM (
  SELECT doc_id, {simhash_token_hash_sql()} AS _hashes FROM (
    SELECT doc_id, list_distinct({_toks_sql()}) AS _shingles FROM documents
  ) WHERE len(_shingles) > 0
)
"""


# ------------------------------------------------------- simhash, 64-bit
# The 32-bit fingerprint is the reference's pinned width (docs_simhash
# oracle parity), but it SATURATES around 10^5-10^6 docs: random
# hamming<=2 collisions among n 32-bit fingerprints (~C(n,2)*529/2^32)
# start rivaling true near-dups — measured at 500k generated docs:
# 29,449 pairs of which ~15k are the random-collision floor (see
# BENCH/BASELINE.md r5). This is the 64-bit scale path: TWO 32-bit
# halves (simhash_docs_wide), LSH = four 16-bit bands (pigeonhole:
# hamming<=3 over 64 bits always leaves a clean band), exact popcount
# verify over both halves.


def _token_hash32_hi(t: str) -> int:
    """Independent second 32-bit token hash (salted md5, same memo)."""
    return _md5_60("h|" + t) % MOD32


def simhash_docs_wide(docs: DataFrame) -> DataFrame:
    """(doc_id, sim_hi, sim_lo) — 64-bit simhash as two 32-bit halves
    from the same kernel as simhash_docs: sim_lo votes on the same
    token hash, so it IS simhash_docs' fingerprint and the wide path
    strictly extends the narrow one; sim_hi votes on the salted hash
    family."""
    return _simhash_kernel(docs, (_token_hash32_hi, _token_hash32), ("sim_hi", "sim_lo"))


def simhash_near_dup_pairs_wide(docs: DataFrame, max_hamming: int = 2) -> DataFrame:
    """64-bit SimHash near-dup pairs: four 16-bit bands over (hi, lo)
    via ONE explode, exact two-half popcount verify. Same plan shape
    as the 32-bit operator; the wider fingerprint pushes the random-
    collision floor from ~2^-32 to ~2^-64 per pair."""
    return _simhash_pairs(simhash_docs_wide(docs), ("sim_lo", "sim_hi"), max_hamming)


def ngram_jaccard_pairs(docs: DataFrame, jaccard_threshold: float = 0.6) -> DataFrame:
    """n-gram Jaccard near-dup pairs: character-trigram shingles
    through the same MinHash-LSH band pipeline (the scale path — exact
    trigram Jaccard runs only on band collisions, never all-pairs)."""
    return minhash_near_dup_pairs(docs, jaccard_threshold, shingler="char3")


def ngram_jaccard_pairs_sql(jaccard_threshold: float = 0.6) -> str:
    return minhash_near_dup_pairs_sql(jaccard_threshold, shingler="char3")
