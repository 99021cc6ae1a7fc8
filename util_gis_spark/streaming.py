"""Structured Streaming surface.

The reference is batch-only; its cadence/session windows (SURVEY §2.5)
are the batch analogue of event-time session windows. This module maps
the same semantics onto readStream -> session_window + watermark so
the engine can ingest live trajectories:

- session gap rule == splitClusterByTime's `dt > gap` cut, with one
  documented boundary difference: Spark session windows are
  half-open ([start, last+gap)), so a step of EXACTLY `gap` seconds
  starts a new session, while the batch rule keeps it (`>` vs `>=`).
  Tests use data away from the exact boundary.
- late data handled by the watermark; state eviction is automatic.
- the near-dup streams reuse the batch signature kernels and band
  builders (dedup.simhash_bands, dedup.minhash_bands) and share one
  stateful bucket matcher, _bucket_pair_stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.grouped import _worker_preamble


def _file_stream(
    spark: SparkSession, sf_dir: str, table: str, prefix: str, max_files_per_trigger: int
) -> DataFrame:
    """A file stream over one table, with the batch table's schema.
    File streams need a DIRECTORY source: stage a /tmp symlink dir
    pointing at the table's parquet (one definition — r5 review: the
    10-line staging block was duplicated verbatim in both sources)."""
    import hashlib
    import os

    src = os.path.abspath(f"{sf_dir}/{table}.parquet")
    stage = f"/tmp/util_gis_spark_{prefix}_{hashlib.md5(src.encode()).hexdigest()[:8]}"
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, f"{table}.parquet")
    if os.path.lexists(link) and not os.path.exists(link):
        os.unlink(link)  # dangling symlink from a moved/recreated source
    if not os.path.lexists(link):
        os.symlink(src, link)
    return (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(stage)
    )


def gps_point_stream(spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-based stream over the events table (the sandbox stand-in
    for a Kafka topic of GPS reports), derived to the gps_points shape
    by the SAME column rule as the batch view (datasets.gps_point_cols
    — one definition, so the streaming source cannot drift from the
    oracle-pinned batch derivation; r5 review)."""
    from . import datasets as D

    stream = _file_stream(spark, sf_dir, "events", "stream", max_files_per_trigger)
    return stream.select(*D.gps_point_cols()).select(
        "device_id", F.col("ts").cast("timestamp").alias("ts"), "lon", "lat"
    )


def sessionize_stream(
    points_stream: DataFrame,
    gap: str = "300 seconds",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time session windows per device: the streaming form of
    splitClusterByTime (G:2864-2932)."""
    return (
        points_stream.withWatermark("ts", watermark)
        .groupBy("device_id", F.session_window("ts", gap).alias("session"))
        .agg(
            F.count("*").alias("n_points"),
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
        )
        .select("device_id", "n_points", "start_ts", "end_ts")
    )


def tile_count_stream(points_stream: DataFrame, res: int = 14, watermark: str = "10 minutes") -> DataFrame:
    """Streaming tile rollup: images/points per cell per 5-minute
    tumbling window — the live ingestion counterpart of the batch
    tile-assignment rollup."""
    from .geo.cells import cell_expr

    return (
        points_stream.withWatermark("ts", watermark)
        .withColumn("cell", cell_expr("lon", "lat", res))
        .groupBy(F.window("ts", "5 minutes").alias("w"), "cell")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("window_start"), "cell", "n")
    )


def sessionize_stream_stateful(
    points_stream: DataFrame,
    gap_s: int = 300,
    watermark: str = "10 minutes",
    flush_timeout: bool = True,
) -> DataFrame:
    """Custom stateful sessionization via applyInPandasWithState — the
    arbitrary-state API the built-in session_window can't replace when
    the reference's richer state machines (cadence voting, G:6249) go
    streaming. State per device: (seg_start_s, last_s, n_points).
    Emits one row per CLOSED session; with `flush_timeout` the final
    open session flushes when the state times out.

    `flush_timeout=False` is REQUIRED for availableNow/one-shot runs:
    a ProcessingTimeTimeout is re-armed on every batch, so available-
    now keeps scheduling empty batches to fire timeouts that keep
    moving — the query literally never terminates (r5 review: the old
    test masked this by ignoring awaitTermination's False and reading
    the by-then-complete table under a still-spinning query). On a
    continuous stream the timeout flush is the right semantics and
    the default."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "device_id long, start_ts timestamp, end_ts timestamp, n_points long"
    state_schema = "seg_start_s long, last_s long, n long"

    def fn(key, pdfs, state: GroupState):
        _worker_preamble()
        device_id = key[0]
        if state.exists:
            seg_start, last, n = state.get
        else:
            seg_start = last = None
            n = 0
        closed = []
        # a large group arrives as MULTIPLE Arrow chunks (the session
        # caps maxRecordsPerBatch at 20k): sorting per chunk let a
        # later chunk rewind `last` and split a continuous trajectory
        # (r5 review) — gather every chunk, then sort ONCE
        import numpy as np

        parts = []
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            # normalize explicitly to ns before the µs conversion —
            # pandas/pyarrow may deliver datetime64[us] depending on
            # version, which would skew the gap rule by 1000x
            parts.append(
                (pdf["ts"].astype("datetime64[ns]").astype("int64") // 1_000).to_numpy()
            )
        if parts:
            us = np.concatenate(parts)
            us.sort()
            for u in us:
                # gap rule on floored seconds == batch unix_timestamp diff
                if seg_start is None:
                    seg_start, last, n = int(u), int(u), 1
                elif u // 1_000_000 - last // 1_000_000 > gap_s:
                    closed.append((device_id, seg_start, last, n))
                    seg_start, last, n = int(u), int(u), 1
                else:
                    last = int(u)
                    n += 1
        if flush_timeout and state.hasTimedOut:
            if seg_start is not None:
                closed.append((device_id, seg_start, last, n))
            state.remove()
        elif seg_start is not None:
            # only persist a REAL open session — seeding (0, 0, 0) when
            # all chunks were empty would later close a phantom
            # epoch-1970 session (and `or 0` would conflate a
            # legitimate epoch-0 start with absent state)
            state.update((int(seg_start), int(last), int(n)))
            if flush_timeout:
                state.setTimeoutDuration(gap_s * 1000)
        if closed:
            yield pd.DataFrame(
                {
                    "device_id": [c[0] for c in closed],
                    "start_ts": pd.to_datetime([c[1] for c in closed], unit="us"),
                    "end_ts": pd.to_datetime([c[2] for c in closed], unit="us"),
                    "n_points": [c[3] for c in closed],
                }
            )

    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout if flush_timeout else GroupStateTimeout.NoTimeout
    )
    return (
        points_stream.withWatermark("ts", watermark)
        .groupBy("device_id")
        .applyInPandasWithState(fn, out_schema, state_schema, "append", timeout_conf)
    )


def document_stream(spark: SparkSession, sf_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
    """File-based stream over the documents table (the sandbox
    stand-in for a Kafka topic of crawled documents)."""
    return _file_stream(spark, sf_dir, "documents", "docstream", max_files_per_trigger).select(
        "doc_id", "text"
    )


def _bucket_pair_stream(bands, payload, width, score, keep, score_field, max_bucket):
    """The stateful band-bucket matcher both dedup streams share. Input
    rows are (doc_id, payload, band, bh); per (band, bh) bucket an
    applyInPandasWithState keeps every doc seen so far as state (ids
    array<long>, vals array<long>), each doc's payload flattened at the
    fixed `width`, and emits (doc_a < doc_b, score, band) the moment a
    new doc collides with a recorded one: `score(prev_vals, vals)` is
    kept when `keep(score)`, as the column `score_field` declares
    (DDL, e.g. "hamming int"). Arrivals are matched in doc_id order.

    State is capped at `max_bucket` docs per bucket — at production
    scale the eviction policy would be a time-TTL via
    setTimeoutDuration, trading recall on ancient duplicates for
    bounded state, exactly like a watermark. The state fields were
    renamed (ids/hashes and ids/sigs before), so a checkpoint written
    by an older version does not resume; nothing here persists one."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"doc_a long, doc_b long, {score_field}, band int"
    state_schema = "ids array<long>, vals array<long>"

    def fn(key, pdfs, state: GroupState):
        _worker_preamble()
        ids, vals = (list(x) for x in state.get) if state.exists else ([], [])
        seen = set(ids)
        rows = []
        for pdf in pdfs:
            arriving = sorted(
                (int(d), np.ravel(v).tolist()) for d, v in zip(pdf["doc_id"], pdf[payload])
            )
            for doc_id, v in arriving:
                # a re-ingested doc is already in state: appending it
                # again would re-emit all its historical pairs and bloat
                # the bucket with duplicates. A bucket at max_bucket is
                # CLOSED: emit nothing and record nothing — the batch
                # cap drops oversized (boilerplate) buckets wholesale,
                # and emitting without recording would re-emit the same
                # pairs on every replay of this doc (the re-ingest guard
                # only covers recorded ids; r5 review)
                if doc_id in seen or len(ids) >= max_bucket:
                    continue
                for k, prev_id in enumerate(ids):
                    sc = score(vals[k * width : (k + 1) * width], v)
                    if keep(sc):
                        rows.append((min(prev_id, doc_id), max(prev_id, doc_id), sc))
                ids.append(doc_id)
                vals.extend(v)
                seen.add(doc_id)
        state.update((ids, vals))
        if rows:
            yield pd.DataFrame(rows, columns=["doc_a", "doc_b", score_field.split()[0]]).assign(
                band=int(key[0])
            )

    return bands.groupBy("band", "bh").applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def simhash_dup_stream(
    docs_stream: DataFrame, max_hamming: int = 2, max_bucket: int = 10_000
) -> DataFrame:
    """Streaming near-duplicate detection: the live-ingestion form of
    dedup.simhash_near_dup_pairs. The simhash kernel and the half-band
    partition (dedup.simhash_bands) are the batch operator's own
    (streaming-safe); the shared bucket matcher (_bucket_pair_stream)
    keeps each bucket's fingerprints and emits (doc_a, doc_b, hamming,
    band) the moment a new document collides within `max_hamming`.
    At most `max_bucket` fingerprints are kept per bucket (16 bytes
    each); a full bucket is closed. Pairs colliding in BOTH half-bands
    are emitted once per band — dedup downstream if exact-once pairs
    matter."""
    from .operators.dedup import simhash_bands, simhash_docs

    return _bucket_pair_stream(
        simhash_bands(simhash_docs(docs_stream)),
        payload="simhash",
        width=1,
        score=lambda a, b: (a[0] ^ b[0]).bit_count(),
        keep=lambda h: h <= max_hamming,
        score_field="hamming int",
        max_bucket=max_bucket,
    )


def minhash_dup_stream(
    docs_stream: DataFrame, est_threshold: float = 0.5, max_bucket: int = 10_000
) -> DataFrame:
    """Streaming MinHash near-dup detection — the live-ingestion form
    of dedup.minhash_near_dup_pairs. Same signature kernel (stateless
    Arrow kernel, streaming-safe) and the same 4-band partition
    (dedup.minhash_bands); the shared bucket matcher
    (_bucket_pair_stream) keeps each bucket's 16-value signatures and
    emits (doc_a, doc_b, est_jaccard, band) when a new doc collides.

    The streaming TRADE vs batch: exact Jaccard needs both docs' full
    shingle-hash sets — unbounded state — so the stream verifies on
    the signature-agreement ESTIMATOR instead (matching components /
    16, the textbook unbiased MinHash estimate; 136 B/doc/band of
    state). Candidate pairs are EXACTLY the batch band collisions
    (tested); pairs passing est_threshold are a superset/subset of the
    exact-verify set only as far as the estimator deviates — route
    emitted pairs through a batch exact verify downstream when the
    decision is destructive. At most `max_bucket` signatures are kept
    per bucket; a full bucket is closed."""
    from .operators.dedup import N_HASHES, _sig_kernel, minhash_bands

    return _bucket_pair_stream(
        minhash_bands(_sig_kernel(docs_stream), carry=("_sig",)),
        payload="_sig",
        width=N_HASHES,
        score=lambda a, b: round(sum(x == y for x, y in zip(a, b)) / N_HASHES, 5),
        keep=lambda est: est >= est_threshold,
        score_field="est_jaccard double",
        max_bucket=max_bucket,
    )


def run_stream_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    timeout_s: float = 120.0,
) -> DataFrame:
    """Run a stream into an in-memory table (tests/demos): processes
    everything available, stops, returns the result. `output_mode`
    defaults to 'complete' (aggregation streams); the stateful
    applyInPandasWithState operators need 'append'. Raises on timeout
    instead of returning a silently PARTIAL table (r5 review:
    awaitTermination's boolean was discarded)."""
    _memory_query(stream_df, name, output_mode, timeout_s)
    return stream_df.sparkSession.table(name)


def _memory_query(stream_df: DataFrame, name: str, output_mode: str, timeout_s: float):
    """run_stream_to_memory's run: returns the terminated query, whose
    `recentProgress` a caller may inspect."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"stream {name!r} still running after {timeout_s}s — "
            "the in-memory table would be partial"
        )
    return q
