"""Structured Streaming parity tests: streaming session windows and
tile rollups must agree with their batch counterparts on the same
input."""

import pytest
from pyspark.sql import functions as F

from util_gis_spark import datasets as D
from util_gis_spark import streaming as S
from util_gis_spark.geo.cells import cell_expr


@pytest.fixture(scope="module")
def stream_results(spark, sf_dir):
    pts = S.gps_point_stream(spark, sf_dir)
    sess = S.run_stream_to_memory(S.sessionize_stream(pts, gap="300 seconds"), "t_sessions")
    tiles = S.run_stream_to_memory(S.tile_count_stream(pts, res=14), "t_tiles")
    return sess, tiles


def test_streaming_sessions_match_batch(spark, sf_dir, stream_results):
    sess, _ = stream_results
    got = {
        (r["device_id"], r["start_ts"], r["end_ts"], r["n_points"]) for r in sess.collect()
    }
    # batch twin: same gap cut (gps ts are microsecond-random, so the
    # exact-300s boundary divergence cannot occur)
    from util_gis_spark.operators.trajectory import session_summary

    batch = session_summary(D.gps_points(spark, sf_dir), max_gap_s=300)
    want = {
        (r["device_id"], r["start_ts"], r["end_ts"], r["n_points"]) for r in batch.collect()
    }
    assert got == want


def test_stateful_sessionizer_closed_sessions_match_batch(spark, sf_dir):
    """applyInPandasWithState: every CLOSED session it emits must be a
    session the batch operator also finds (the trailing open session
    per device stays in state under availableNow)."""
    from pyspark.sql import functions as F

    from util_gis_spark.operators.trajectory import session_summary

    pts = S.gps_point_stream(spark, sf_dir)
    # flush_timeout=False: an availableNow run with ProcessingTime
    # timeouts never terminates (the timeout re-arms every batch) —
    # r5; open sessions stay in state, which this test accounts for
    got_df = S.run_stream_to_memory(
        S.sessionize_stream_stateful(pts, gap_s=300, flush_timeout=False),
        "t_stateful",
        output_mode="append",
    )
    got = {
        (r["device_id"], r["start_ts"], r["end_ts"], r["n_points"])
        for r in got_df.collect()
    }
    batch = session_summary(D.gps_points(spark, sf_dir), max_gap_s=300)
    want = {
        (r["device_id"], r["start_ts"], r["end_ts"], r["n_points"])
        for r in batch.collect()
    }
    assert got <= want  # closed sessions are a subset (opens pending)
    n_devices = D.gps_points(spark, sf_dir).select("device_id").distinct().count()
    assert len(got) >= len(want) - n_devices  # at most 1 open per device


def test_streaming_tile_counts_match_batch(spark, sf_dir, stream_results):
    _, tiles = stream_results
    total_stream = sum(r["n"] for r in tiles.collect())
    total_batch = D.gps_points(spark, sf_dir).count()
    assert total_stream == total_batch
    # spot-check one cell against batch
    batch = (
        D.gps_points(spark, sf_dir)
        .withColumn("cell", cell_expr("lon", "lat", 14))
        .groupBy("cell")
        .count()
    )
    want = {r["cell"]: r["count"] for r in batch.collect()}
    got: dict = {}
    for r in tiles.collect():
        got[r["cell"]] = got.get(r["cell"], 0) + r["n"]
    assert got == want


def test_streaming_simhash_dups_match_batch(spark, sf_dir):
    """Streaming near-dup detection emits exactly the batch pair set
    (every band-sharing pair within max_hamming, deduped)."""
    from util_gis_spark.operators.dedup import simhash_near_dup_pairs

    S.run_stream_to_memory(
        S.simhash_dup_stream(S.document_stream(spark, sf_dir), max_hamming=2),
        "t_simdup",
        output_mode="append",
    )
    got = {(r["doc_a"], r["doc_b"]) for r in spark.table("t_simdup").collect()}
    batch = simhash_near_dup_pairs(D.load(spark, sf_dir, "documents"), max_hamming=2)
    want = {(r["doc_a"], r["doc_b"]) for r in batch.collect()}
    assert got == want
    for r in spark.table("t_simdup").collect():
        assert r["hamming"] <= 2 and r["doc_a"] < r["doc_b"]


def test_watermark_drops_late_rows(spark, tmp_path):
    """Late-data rule, as actually guaranteed: a late row arriving
    while its window state is still live is MERGED (Spark evicts on
    watermark, it does not hard-filter), but once the watermark has
    EVICTED the window, a later replay is dropped and the closed
    window is never resurrected in append output. Watermark mechanics
    need TWO batches after the on-time rows: the tail batch advances
    the watermark past the window end, the NEXT batch performs the
    eviction+emission, and only then is a replay dropped. File order:
    on-time rows -> tail (advances wm) -> tail2 (evicts + emits) ->
    replay into the closed window (must be dropped)."""
    import datetime as dt
    import os
    import time

    import pandas as pd

    src = tmp_path / "late_src"
    src.mkdir()
    base = dt.datetime(2024, 1, 1)
    on_time = pd.DataFrame(
        {
            "device_id": [1, 1, 1],
            "ts": [base + dt.timedelta(minutes=m) for m in (0, 1, 2)],
            "lon": [116.0] * 3,
            "lat": [39.5] * 3,
        }
    )
    tail = pd.DataFrame(
        {"device_id": [1], "ts": [base + dt.timedelta(minutes=10)], "lon": [116.0], "lat": [39.5]}
    )
    tail2 = pd.DataFrame(
        {
            "device_id": [1],
            "ts": [base + dt.timedelta(minutes=10, seconds=30)],
            "lon": [116.0],
            "lat": [39.5],
        }
    )
    late = pd.DataFrame(
        {"device_id": [1], "ts": [base + dt.timedelta(minutes=1)], "lon": [116.0], "lat": [39.5]}
    )
    t0 = time.time() - 100
    for i, (name, df) in enumerate(
        (
            ("00.parquet", on_time),
            ("01.parquet", tail),
            ("02.parquet", tail2),
            ("03.parquet", late),
        )
    ):
        df.assign(ts=df["ts"].astype("datetime64[us]")).to_parquet(
            src / name, coerce_timestamps="us"
        )
        # FileStreamSource orders micro-batches by modification time
        os.utime(src / name, (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema("device_id long, ts timestamp, lon double, lat double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = S.tile_count_stream(stream, res=14, watermark="2 minutes")
    # the query itself, not only its table: the progress is asserted
    q = S._memory_query(agg, "t_late", "append", 120)
    rows = spark.table("t_late").collect()
    # the first 5-min window closed with its 3 on-time rows when the
    # tail row advanced the watermark to 8 min; the replayed row was
    # dropped post-eviction and did not resurrect the window
    assert [(r["window_start"], r["n"]) for r in rows] == [(base, 3)]
    dropped = sum(
        s.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for s in p["stateOperators"]
    )
    assert dropped == 1


def test_simhash_stream_soak_multi_trigger(spark, sf_dir, tmp_path):
    """Soak (VERDICT r3 #8): the documents arrive over >= 3 separate
    micro-batches instead of one availableNow gulp; the accumulated
    pair set must still equal the batch recompute, and the state store
    must stay bounded by its design size (<= 2 bands x docs seen)."""
    import os
    import time

    import duckdb

    from util_gis_spark.operators.dedup import simhash_near_dup_pairs

    src = tmp_path / "soak_src"
    src.mkdir()
    con = duckdb.connect()
    t0 = time.time() - 100
    n_docs = 0
    for i in range(4):
        chunk = con.execute(
            f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') "
            f"WHERE doc_id % 4 = {i} ORDER BY doc_id"
        ).df()
        n_docs += len(chunk)
        chunk.to_parquet(src / f"{i:02d}.parquet")
        os.utime(src / f"{i:02d}.parquet", (t0 + i, t0 + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = S._memory_query(S.simhash_dup_stream(stream, max_hamming=2), "t_simdup_soak", "append", 180)

    data_triggers = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(data_triggers) >= 3  # genuinely multi-trigger

    got = {(r["doc_a"], r["doc_b"]) for r in spark.table("t_simdup_soak").collect()}
    batch = simhash_near_dup_pairs(
        spark.read.parquet(f"{sf_dir}/documents.parquet"), max_hamming=2
    )
    want = {(r["doc_a"], r["doc_b"]) for r in batch.collect()}
    assert got == want

    # bounded state: one fingerprint per (band, doc) at most
    last_rows = max(
        (s["numRowsTotal"] for p in data_triggers for s in p["stateOperators"]),
        default=0,
    )
    assert 0 < last_rows <= 2 * n_docs


def test_minhash_incremental_soak_three_batches(spark, sf_dir):
    """Soak the incremental dedup cadence: three successive shards each
    dedup against the GROWING stage (stage extended with mode='append'
    after each), each batch's signature cache released by dropping its
    result; union of within-shard + cross-shard pairs == the full recompute."""
    import os
    import shutil
    from urllib.parse import urlparse

    from pyspark.sql import functions as F

    from util_gis_spark.operators.dedup import (
        minhash_dedup_incremental,
        minhash_near_dup_pairs,
        write_minhash_stage,
    )

    docs = D.load(spark, sf_dir, "documents")
    shards = [docs.filter(F.col("doc_id") % 4 == i) for i in range(4)]
    # a crashed earlier run leaves table directories the in-memory
    # catalog no longer knows, and saveAsTable then fails with
    # LOCATION_ALREADY_EXISTS
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("t_soak_inc_bands", "t_soak_inc_hashes"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
    try:
        write_minhash_stage(shards[0], "t_soak_inc", n_buckets=8)
        got = set()
        for r in minhash_near_dup_pairs(shards[0]).collect():
            got.add((r["doc_a"], r["doc_b"], r["jaccard"]))
        for shard in shards[1:]:
            out = minhash_dedup_incremental(shard, "t_soak_inc")
            for r in out.collect():
                a, b = sorted((r["doc_a"], r["doc_b"]))
                got.add((a, b, r["jaccard"]))
            for r in minhash_near_dup_pairs(shard).collect():
                got.add((r["doc_a"], r["doc_b"], r["jaccard"]))
            write_minhash_stage(shard, "t_soak_inc", n_buckets=8, mode="append")
        want = {
            (r["doc_a"], r["doc_b"], r["jaccard"])
            for r in minhash_near_dup_pairs(docs).collect()
        }
        assert got == want
    finally:
        spark.sql("DROP TABLE IF EXISTS t_soak_inc_bands")
        spark.sql("DROP TABLE IF EXISTS t_soak_inc_hashes")


def test_minhash_stream_candidates_match_batch(spark, sf_dir):
    """Streaming MinHash dedup: the candidate pair set (est_threshold=0
    -> every band collision) must equal the batch operator's candidate
    set (jaccard_threshold=0 keeps all verified candidates), and the
    emitted est_jaccard must equal the signature-agreement estimator
    computed from the batch signature kernel."""
    from util_gis_spark.operators.dedup import (
        N_HASHES,
        _sig_kernel,
        minhash_near_dup_pairs,
    )

    stream_rows = S.run_stream_to_memory(
        S.minhash_dup_stream(S.document_stream(spark, sf_dir), est_threshold=0.0),
        "t_mhdup",
        output_mode="append",
    ).collect()
    got = {(r["doc_a"], r["doc_b"]) for r in stream_rows}

    docs = D.load(spark, sf_dir, "documents")
    want = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_near_dup_pairs(docs, jaccard_threshold=0.0).collect()
    }
    assert got == want and len(got) > 0

    sigs = {
        int(r["doc_id"]): list(r["_sig"]) for r in _sig_kernel(docs).collect()
    }
    for r in stream_rows:
        agree = sum(
            a == b for a, b in zip(sigs[r["doc_a"]], sigs[r["doc_b"]])
        )
        assert abs(r["est_jaccard"] - round(agree / N_HASHES, 5)) < 1e-9


DUP_STREAMS = pytest.mark.parametrize(
    "dup_stream", [S.simhash_dup_stream, S.minhash_dup_stream], ids=["simhash", "minhash"]
)


@DUP_STREAMS
def test_dup_stream_reingest_does_not_duplicate(spark, tmp_path, dup_stream):
    """A re-ingested doc (same doc_id arriving in a later batch) must
    not re-enter bucket state or re-emit its historical pairs."""
    import os
    import time

    import pandas as pd

    src = tmp_path / "reingest_src"
    src.mkdir()
    batch1 = pd.DataFrame({"doc_id": [1, 2], "text": ["a b c d e", "a b c d e"]})
    batch2 = pd.DataFrame({"doc_id": [1], "text": ["a b c d e"]})  # replay of doc 1
    t0 = time.time() - 100
    for i, df in enumerate((batch1, batch2)):
        df.to_parquet(src / f"{i:02d}.parquet")
        os.utime(src / f"{i:02d}.parquet", (t0 + i, t0 + i))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    rows = S.run_stream_to_memory(
        dup_stream(stream), f"t_reingest_{dup_stream.__name__}", output_mode="append"
    ).collect()
    # the (1, 2) pair appears once per band it collides in, from batch
    # 1 only; the replay in batch 2 must add nothing
    per_band = {}
    for r in rows:
        per_band.setdefault(r["band"], []).append((r["doc_a"], r["doc_b"]))
    for band, pairs in per_band.items():
        assert pairs == [(1, 2)], (band, pairs)


def test_stateful_sessionizer_multichunk_groups(spark, sf_dir):
    """r5 review: a device whose micro-batch spans MULTIPLE Arrow
    chunks must sessionize identically to a single-chunk delivery —
    per-chunk sorting let a later chunk rewind `last` and split a
    continuous trajectory. Chunk size forced tiny so every device
    splits into ~4 chunks."""
    from util_gis_spark.operators.trajectory import session_summary

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "5")
    try:
        pts = S.gps_point_stream(spark, sf_dir).filter("device_id < 5")
        got_df = S.run_stream_to_memory(
            S.sessionize_stream_stateful(pts, gap_s=300, flush_timeout=False),
            "t_stateful_chunked",
            output_mode="append",
        )
        got = {
            (r["device_id"], r["start_ts"], r["end_ts"], r["n_points"])
            for r in got_df.collect()
        }
    finally:
        spark.conf.set(key, old)
    batch = session_summary(
        D.gps_points(spark, sf_dir).filter("device_id < 5"), max_gap_s=300
    )
    want = {
        (r["device_id"], r["start_ts"], r["end_ts"], r["n_points"])
        for r in batch.collect()
    }
    assert got <= want
    assert len(got) >= len(want) - 5  # at most 1 open session per device


@DUP_STREAMS
def test_dup_stream_closed_bucket_emits_nothing(spark, sf_dir, dup_stream):
    """r5 review: once a band bucket reaches max_bucket it is CLOSED —
    further docs emit no pairs and are not recorded (the batch cap's
    drop-wholesale semantics; emitting without recording re-emitted
    the same pairs on every replay)."""
    out = S.run_stream_to_memory(
        dup_stream(S.document_stream(spark, sf_dir), max_bucket=1),
        f"t_cap1_{dup_stream.__name__}",
        output_mode="append",
    )
    # every bucket holds exactly one doc before closing -> no pairs at all
    assert out.count() == 0
