"""Append-mode watermark semantics: exactly-once window emission and
late-row eviction, exercised with a deterministic file-per-batch replay."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from training_catalog.streaming.events import (
    windowed_event_counts_append)

UTC_TS = pa.timestamp("us", tz="UTC")


def _write(path: str, rows: list[tuple[str, str]], mtime: float) -> None:
    """One parquet file of (ts ISO-string, event_type) rows with a forced
    mtime so the file stream processes files in a known order."""
    import datetime
    ts = [datetime.datetime.fromisoformat(t + "+00:00") for t, _ in rows]
    table = pa.table({
        "ts": pa.array(ts, type=UTC_TS),
        "event_type": pa.array([e for _, e in rows]),
    })
    pq.write_table(table, path)
    os.utime(path, (mtime, mtime))


def test_append_mode_emits_closed_windows_and_drops_late(spark, tmp_path):
    d = str(tmp_path / "stream")
    os.makedirs(d)
    # batch 0: two rows in [10:00), two in [11:00); max event time 11:45
    # → watermark advances to 11:15 for the NEXT batch
    _write(f"{d}/f1.parquet",
           [("2024-01-01 10:15:00", "a"),
            ("2024-01-01 10:40:00", "a"),
            ("2024-01-01 11:30:00", "a"),
            ("2024-01-01 11:45:00", "a")], mtime=1_000_000)
    # batch 1: 12:45 pushes the watermark to 12:15 → at batch end, the
    # [10:00) and [11:00) windows are FINALIZED (emitted + state evicted)
    _write(f"{d}/f2.parquet",
           [("2024-01-01 12:45:00", "b")], mtime=2_000_000)
    # batch 2: a late row for the already-finalized [10:00) window —
    # guaranteed dropped (Spark drops late rows once their window's
    # state is evicted; a late row arriving while the window is still in
    # state would instead be aggregated — the documented best-effort)
    _write(f"{d}/f3.parquet",
           [("2024-01-01 10:20:00", "a")], mtime=3_000_000)

    out = windowed_event_counts_append(spark, d, window="1 hour",
                                       watermark="30 minutes")
    rows = {(str(r.window_start), r.event_type): r.n_events
            for r in out.collect()}

    # [10:00) finalized with its on-time rows only — the late row absent
    assert rows[("2024-01-01 10:00:00", "a")] == 2
    # [11:00) finalized once the 12:45 row pushed the watermark past it
    assert rows[("2024-01-01 11:00:00", "a")] == 2
    # [12:00) never finalizes (watermark stops at 12:15 < its 13:00 end)
    assert not any(k[0] == "2024-01-01 12:00:00" for k in rows)
    assert len(rows) == 2


def test_lake_ingest_restart_exactly_once(spark, tmp_path):
    """Checkpointed file-sink ingest across THREE separate availableNow
    drains with the same checkpoint: new files land exactly once, replays
    with no new data are no-ops, and nothing is double-committed — the
    restart/recovery contract a durable lake pipeline needs (the
    stream_lake_ingest catalog query covers one drain; this covers the
    resume path)."""
    from pyspark.sql import functions as F

    src = tmp_path / "src"
    src.mkdir()
    data_dir = str(tmp_path / "lake")
    ckpt_dir = str(tmp_path / "ckpt")

    def drain():
        stream = (spark.readStream
                  .schema("ts timestamp, event_type string")
                  .parquet(str(src)))
        q = (stream.withColumn("day", F.to_date("ts"))
             .writeStream.format("parquet")
             .option("path", data_dir)
             .option("checkpointLocation", ckpt_dir)
             .partitionBy("day")
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        back = spark.read.parquet(data_dir)
        return sorted((str(r["day"]), r["event_type"], r["n"]) for r in
                      back.groupBy("day", "event_type")
                          .agg(F.count("*").alias("n")).collect())

    _write(str(src / "b1.parquet"),
           [("2024-01-01T10:00:00", "click"),
            ("2024-01-01T11:00:00", "click"),
            ("2024-01-02T09:00:00", "view")], mtime=1_700_000_000)
    assert drain() == [("2024-01-01", "click", 2), ("2024-01-02", "view", 1)]

    _write(str(src / "b2.parquet"),
           [("2024-01-01T12:00:00", "click"),
            ("2024-01-03T08:00:00", "buy")], mtime=1_700_000_100)
    after_two = drain()
    assert after_two == [("2024-01-01", "click", 3),
                         ("2024-01-02", "view", 1),
                         ("2024-01-03", "buy", 1)]

    # replay with no new input: committed batches must not re-apply
    assert drain() == after_two


def test_bounded_dedup_evicts_state_across_batches(spark, tmp_path):
    """dropDuplicatesWithinWatermark must EVICT keys once the watermark
    passes them — the state store after a multi-batch drain holds only the
    tail window, not every key ever seen (the 100 TB tail-follower
    requirement; plain dropDuplicates would hold all 60)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = tmp_path / "events"
    src.mkdir()
    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    # 3 files x 20 unique keys, one hour apart, forced mtime order
    for b in range(3):
        ids = list(range(b * 20, b * 20 + 20))
        ts = [base + datetime.timedelta(hours=b, seconds=i) for i in ids]
        pq.write_table(pa.table({
            "event_id": pa.array(ids, type=pa.int64()),
            "ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        }), str(src / f"b{b}.parquet"))
        os.utime(str(src / f"b{b}.parquet"),
                 (1_700_000_000 + b, 1_700_000_000 + b))

    stream = (spark.readStream
              .schema("event_id long, ts timestamp")
              .option("maxFilesPerTrigger", 1)
              .parquet(str(src)))
    doubled = stream.unionByName(stream)
    deduped = (doubled.withWatermark("ts", "10 minutes")
               .dropDuplicatesWithinWatermark(["event_id"]))
    q = (deduped.groupBy().agg(F.count("*").alias("n"))
         .writeStream.format("memory").queryName("bdedup_evict")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    # correctness: every key exactly once despite the self-union
    assert spark.table("bdedup_evict").collect()[0]["n"] == 60
    # boundedness: dedup state kept only the un-evicted tail, not all 60
    progress = q.recentProgress
    state_rows = [
        op["numRowsTotal"] for p in progress
        for op in p["stateOperators"]
        if "dedupe" in op.get("operatorName", "").lower()]
    assert state_rows, "no dedupe state operator in query progress"
    assert min(state_rows[-1:]) < 60, (
        f"state held {state_rows} rows — no eviction happened")


def test_stateful_query_runs_on_rocksdb_state_store(spark, tmp_path):
    """Production streaming state lives in the RocksDB provider (bounded
    heap, incremental checkpoints), not the default in-memory HDFS-backed
    store. Pin that our stateful pipeline shape actually runs on it and
    produces identical results."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    src = tmp_path / "ev"
    src.mkdir()
    base = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    ids = list(range(30))
    pq.write_table(pa.table({
        "event_id": pa.array(ids + ids, type=pa.int64()),  # dupes inline
        "ts": pa.array([base + datetime.timedelta(seconds=i)
                        for i in ids + ids],
                       type=pa.timestamp("us", tz="UTC")),
    }), str(src / "b0.parquet"))

    prev = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider")
    try:
        stream = (spark.readStream
                  .schema("event_id long, ts timestamp")
                  .parquet(str(src)))
        deduped = (stream.withWatermark("ts", "10 minutes")
                   .dropDuplicatesWithinWatermark(["event_id"]))
        q = (deduped.groupBy().agg(F.count("*").alias("n"))
             .writeStream.format("memory").queryName("rocksdb_dedup")
             .outputMode("complete").trigger(availableNow=True).start())
        q.awaitTermination()
        # a bad provider class fails the query at state-store init, so a
        # clean drain with the right count IS the proof the path works
        assert spark.table("rocksdb_dedup").collect()[0]["n"] == 30
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev)


def test_streaming_curation_multi_batch_dedup_state(spark, tmp_path):
    """Cross-batch curation state: a duplicate arriving in a LATER
    micro-batch still counts as a duplicate (dropDuplicates state spans
    batches), and the drained stats equal the batch oracle over the
    union."""
    import duckdb

    from training_catalog.plans import ORACLES
    from training_catalog.streaming.documents import \
        streaming_curation_stats

    good = ("plenty of perfectly ordinary words stacked together here "
            "so the integer quality gate passes without any trouble at "
            "all for this document")
    b1 = [(1, "s1", good, "en", len(good)),
          (29, "s1", "benchmark slice content marker phrase", "en", 10)]
    b2 = [(2, "s1", good, "en", len(good)),          # cross-batch dup
          (3, "s1", good + " extra tail", "en", 10)]
    schema = ("doc_id long, source string, text string, lang string, "
              "n_chars long")
    d = tmp_path / "stream_src"
    d.mkdir()
    # two separate files → maxFilesPerTrigger-independent: availableNow
    # still processes them (possibly one batch; the state path is the
    # same code either way, and the 2-file layout at least permits
    # multi-batch execution)
    spark.createDataFrame(b1, schema).coalesce(1).write.mode(
        "overwrite").parquet(str(d / "documents.parquet"))
    spark.createDataFrame(b2, schema).coalesce(1).write.mode(
        "append").parquet(str(d / "documents.parquet"))

    got = sorted(map(tuple, streaming_curation_stats(
        spark, str(d)).collect()))

    con = duckdb.connect()
    import pandas as pd
    con.register("documents", pd.DataFrame(
        b1 + b2, columns=["doc_id", "source", "text", "lang",
                          "n_chars"]))
    want = sorted(map(tuple,
                      con.execute(ORACLES["stream_curate_stats"])
                      .fetchall()))
    assert got == want
    row = dict(zip(["source", "n_docs", "n_benchmark", "n_quality",
                    "n_dup", "n_contaminated", "n_kept"], got[0]))
    assert row["n_dup"] == 1          # the cross-batch duplicate


def test_streaming_curation_forced_multi_batch(spark, tmp_path):
    """Force one file per micro-batch (maxFilesPerTrigger=1) so the
    standing digest-state anti-join path is GENUINELY exercised across
    batches — a duplicate and a contaminated twin each arriving in a
    later batch than their first sighting must count as duplicates, and
    contamination must be scored exactly once per unique digest (on the
    batch where the digest is first seen), matching the oracle."""
    import duckdb
    import pandas as pd

    from training_catalog.plans import ORACLES
    from training_catalog.streaming.documents import \
        streaming_curation_stats

    good = ("plenty of perfectly ordinary words stacked together here "
            "so the integer quality gate passes without any trouble at "
            "all for this document")
    # contaminated pool doc: shares a 5-gram with the benchmark doc
    bench_text = ("benchmark slice content marker phrase repeated long "
                  "enough to carry shingles")
    cont = ("prefix words then benchmark slice content marker phrase "
            "and plenty of ordinary filler so the quality gate passes "
            "here too")
    b1 = [(1, "s1", good, "en", len(good)),
          (29, "s1", bench_text, "en", len(bench_text)),
          (4, "s1", cont, "en", len(cont))]
    b2 = [(2, "s1", good, "en", len(good))]       # dup of batch-1 doc
    b3 = [(5, "s1", cont, "en", len(cont)),       # dup of contaminated
          (6, "s2", good, "en", len(good))]       # same text, NEW source
    schema = ("doc_id long, source string, text string, lang string, "
              "n_chars long")
    d = tmp_path / "stream_src3"
    d.mkdir()
    tbl = d / "documents.parquet"
    for batch in (b1, b2, b3):
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append").parquet(str(tbl))

    got = sorted(map(tuple, streaming_curation_stats(
        spark, str(d), max_files_per_trigger=1).collect()))

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        b1 + b2 + b3, columns=["doc_id", "source", "text", "lang",
                               "n_chars"]))
    want = sorted(map(tuple,
                      con.execute(ORACLES["stream_curate_stats"])
                      .fetchall()))
    assert got == want
    by_src = {r[0]: dict(zip(
        ["source", "n_docs", "n_benchmark", "n_quality", "n_dup",
         "n_contaminated", "n_kept"], r)) for r in got}
    # s1: docs 2 and 5 are later-batch duplicates; doc 4's contamination
    # counted once despite its batch-3 twin
    assert by_src["s1"]["n_dup"] == 2
    assert by_src["s1"]["n_contaminated"] == 1
    # s2: same text as s1's — per-SOURCE keying keeps it unique
    assert by_src["s2"]["n_dup"] == 0 and by_src["s2"]["n_kept"] == 1


def test_streaming_winnow_cross_batch_pair_discovery(spark, tmp_path):
    """Force one file per micro-batch: a near-dup whose twin arrived in
    an EARLIER batch still pairs (new fingerprints join the standing
    postings), within-batch pairs emit too, re-delivered doc ids are
    idempotent, and the drained ledger equals the batch oracle."""
    import duckdb
    import pandas as pd

    from training_catalog.plans import ORACLES
    from training_catalog.streaming.documents import \
        streaming_winnow_pairs

    run = " ".join(f"c{i}" for i in range(12))
    b1 = [(1, "s", "x0 x1 " + run, "en", 1)]
    b2 = [(2, "s", run + " y0 y1", "en", 1),        # pairs with batch-1 #1
          (3, "s", run + " z0 z1", "en", 1)]        # in-batch pair with #2
    b3 = [(1, "s", "x0 x1 " + run, "en", 1),        # re-delivery: no-op
          (4, "s", " ".join(f"q{i}" for i in range(20)), "en", 1)]
    schema = ("doc_id long, source string, text string, lang string, "
              "n_chars long")
    d = tmp_path / "winnow_src"
    d.mkdir()
    for batch in (b1, b2, b3):
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append").parquet(str(d / "documents.parquet"))

    got = sorted(map(tuple, streaming_winnow_pairs(
        spark, str(d), max_files_per_trigger=1).collect()))

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        b1 + b2 + b3[1:],        # batch semantics: doc 1 counted once
        columns=["doc_id", "source", "text", "lang", "n_chars"]))
    want = sorted(map(tuple,
                      con.execute(ORACLES["stream_winnow_pairs"])
                      .fetchall()))
    assert got == want
    pairs = {(a, b) for a, b, _ in got}
    assert {(1, 2), (1, 3), (2, 3)} <= pairs      # cross- AND in-batch
    assert all(4 not in p for p in pairs)


def test_streaming_winnow_state_base_survives_calls(spark, tmp_path):
    """``state_base`` keeps postings + pair ledger + checkpoint on
    caller-owned storage: a second drain on an unchanged source resumes
    from the checkpoint and returns the same ledger, and a third drain
    after RE-DELIVERING an already-fingerprinted doc_id (new file, same
    id) anti-joins it out — no duplicate pair rows, ever."""
    from training_catalog.streaming.documents import \
        streaming_winnow_pairs

    run = " ".join(f"c{i}" for i in range(12))
    schema = ("doc_id long, source string, text string, lang string, "
              "n_chars long")
    d = tmp_path / "src"
    d.mkdir()
    spark.createDataFrame(
        [(1, "s", "x0 x1 " + run, "en", 1),
         (2, "s", run + " y0 y1", "en", 1)], schema) \
        .coalesce(1).write.mode("append") \
        .parquet(str(d / "documents.parquet"))
    state = str(tmp_path / "standing_state")

    first = sorted(map(tuple, streaming_winnow_pairs(
        spark, str(d), state_base=state).collect()))
    assert [(a, b) for a, b, _ in first] == [(1, 2)]
    assert os.path.exists(f"{state}/fp_state")       # state survived

    second = sorted(map(tuple, streaming_winnow_pairs(
        spark, str(d), state_base=state).collect()))
    assert second == first                           # checkpoint resume

    # re-deliver doc 1 in a fresh file: the standing doc_id anti-join
    # must drop it — the ledger stays exactly one (1, 2) row
    spark.createDataFrame([(1, "s", "x0 x1 " + run, "en", 1)], schema) \
        .coalesce(1).write.mode("append") \
        .parquet(str(d / "documents.parquet"))
    third = sorted(map(tuple, streaming_winnow_pairs(
        spark, str(d), state_base=state).collect()))
    assert third == first


def test_state_base_pinned_to_one_source(spark, tmp_path):
    """The checkpoint inside ``state_base`` records the file source's
    path + offsets, so resuming it against a DIFFERENT source dir would
    drain stale offsets; all three streaming twins must fail loudly
    instead of resuming (ADVICE r8: one-source-per-state_base)."""
    import pytest

    from training_catalog.streaming.documents import (
        streaming_curation_stats, streaming_minhash_pairs,
        streaming_winnow_pairs)

    run = " ".join(f"c{i}" for i in range(12))
    schema = ("doc_id long, source string, text string, lang string, "
              "n_chars long")
    d1, d2 = tmp_path / "src1", tmp_path / "src2"
    for d in (d1, d2):
        d.mkdir()
        spark.createDataFrame([(1, "s", run, "en", 1)], schema) \
            .coalesce(1).write.mode("append") \
            .parquet(str(d / "documents.parquet"))

    for fn in (streaming_winnow_pairs, streaming_curation_stats,
               streaming_minhash_pairs):
        state = str(tmp_path / f"state_{fn.__name__}")
        fn(spark, str(d1), state_base=state)
        with pytest.raises(ValueError, match="pinned to source"):
            fn(spark, str(d2), state_base=state)
        # the original source still resumes fine
        fn(spark, str(d1), state_base=state)


def test_streaming_curation_state_base_dedups_across_calls(spark,
                                                           tmp_path):
    """``state_base`` makes the digest state a standing dedup ledger
    across CALLS: re-delivered content in a later drain counts as docs
    seen but dedups against the persisted digests — n_kept unchanged."""
    from training_catalog.streaming.documents import \
        streaming_curation_stats

    # doc_ids chosen % 29 != 0 (pool, not benchmark); 64 plain words
    # → quality metric 1_000_000 ≥ the 300_000 gate
    text = " ".join(f"w{i}" for i in range(64))
    schema = ("doc_id long, source string, text string, lang string, "
              "n_chars long")
    d = tmp_path / "src"
    d.mkdir()
    spark.createDataFrame(
        [(1, "s", text, "en", 1), (2, "s", text + " tail", "en", 1)],
        schema).coalesce(1).write.mode("append") \
        .parquet(str(d / "documents.parquet"))
    state = str(tmp_path / "standing_state")

    first = {r["source"]: r.asDict() for r in streaming_curation_stats(
        spark, str(d), state_base=state).collect()}
    assert first["s"]["n_docs"] == 2
    assert first["s"]["n_dup"] == 0 and first["s"]["n_kept"] == 2

    # second drain: doc 1's text re-delivered under a NEW doc_id — the
    # persisted digest state flags it as a duplicate, n_kept unchanged
    spark.createDataFrame([(3, "s", text, "en", 1)], schema) \
        .coalesce(1).write.mode("append") \
        .parquet(str(d / "documents.parquet"))
    second = {r["source"]: r.asDict() for r in streaming_curation_stats(
        spark, str(d), state_base=state).collect()}
    assert second["s"]["n_docs"] == 3
    assert second["s"]["n_dup"] == 1
    assert second["s"]["n_kept"] == 2


def test_streaming_minhash_equals_batch_across_batches(spark, tmp_path):
    """One file per micro-batch: near-dup pairs whose members arrive in
    DIFFERENT batches still surface (new band keys join the standing
    postings), exact-Jaccard verification uses the standing shingle
    state, re-delivered doc ids no-op, and the drained ledger equals
    the batch minhash_dedup_pairs output exactly."""
    from training_catalog.operators.dedup import \
        minhash_dedup_pairs
    from training_catalog.streaming.documents import \
        streaming_minhash_pairs

    base = " ".join(f"t{i}" for i in range(30))
    b1 = [(1, "s", base, "en", 1)]
    b2 = [(2, "s", base + " x1", "en", 1),          # near-dup of batch-1 #1
          (3, "s", " ".join(f"z{i}" for i in range(25)), "en", 1)]
    b3 = [(1, "s", base, "en", 1),                  # re-delivery: no-op
          (4, "s", base + " y1", "en", 1)]          # near-dup of #1 and #2
    schema = ("doc_id long, source string, text string, lang string, "
              "n_chars long")
    d = tmp_path / "src"
    d.mkdir()
    for batch in (b1, b2, b3):
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append").parquet(str(d / "documents.parquet"))

    got = sorted(map(tuple, streaming_minhash_pairs(
        spark, str(d), max_files_per_trigger=1).collect()))
    batch_docs = spark.createDataFrame(b1 + b2 + b3[1:], schema)
    want = sorted(map(tuple, minhash_dedup_pairs(
        batch_docs, "doc_id", "text").collect()))
    assert got == want
    pairs = {(a, b) for a, b, _ in got}
    assert (1, 2) in pairs and (1, 4) in pairs      # cross-batch pairs
    assert all(3 not in p for p in pairs)


def _state_v2_available() -> bool:
    """Spark 4's State-V2 Python worker (transformWithStateInPandas)
    speaks protobuf to the state server.  Exact constraint (from the
    ``_runtime_version.ValidateProtobufRuntimeVersion`` pin in
    pyspark/sql/streaming/proto/StateMessage_pb2.py): ``protobuf``
    (google.protobuf) runtime >= 6.33.0, same major.  This container
    ships NO google.protobuf at all and has no package index access to
    vendor one, so the worker crashes at query start; on any
    environment with ``pip install 'protobuf>=6.33'`` the twin runs."""
    try:
        from google.protobuf import descriptor  # noqa: F401
        return True
    except ImportError:
        return False


@pytest.mark.skipif(not _state_v2_available(),
                    reason="google.protobuf absent in this container "
                           "(State-V2 worker needs protobuf>=6.33.0, "
                           "the StateMessage_pb2 gencode pin; no "
                           "package index to vendor it)")
def test_sessions_tws_equals_v1(spark):
    """Spark 4 State-V2 twin (transformWithStateInPandas + typed
    ValueState, RocksDB provider) must produce exactly the
    applyInPandasWithState operator's sessionization — the contract
    that gates the API migration."""
    from conftest import SF_SMOKE
    from training_catalog.streaming.events import (
        stateful_user_sessions, stateful_user_sessions_tws)

    got = sorted(map(tuple,
                     stateful_user_sessions_tws(spark, SF_SMOKE).collect()))
    want = sorted(map(tuple,
                      stateful_user_sessions(spark, SF_SMOKE).collect()))
    assert got == want


def test_streaming_ivf_index_equals_batch_assignment(spark, tmp_path):
    """The drained IVF postings must equal the batch assignment of the
    same corpus under the same frozen centroids — across a forced
    one-file-per-batch drain, with a re-delivered vec_id (new file,
    same id) anti-joined out, and the catalog's per-cell rollup
    consistent with the postings."""
    import numpy as np

    from training_catalog.operators.similarity import (
        _ivf_cells_udf, _train_ivf_centroids)
    from training_catalog.streaming.embeddings import (
        streaming_ivf_index)
    from pyspark.sql import functions as F

    rng = np.random.default_rng(7)
    d = tmp_path / "src"
    d.mkdir()
    emb_dir = d / "embeddings.parquet"
    rows_all = []
    for b in range(3):
        rows = [(b * 100 + i, rng.normal(size=8).tolist(), "x")
                for i in range(40)]
        rows_all += rows
        spark.createDataFrame(
            rows, "vec_id long, embedding array<double>, label string") \
            .coalesce(1).write.mode("append").parquet(str(emb_dir))
    state = str(tmp_path / "ivf_state")

    counts = {r.cell: r.n_vectors for r in streaming_ivf_index(
        spark, str(d), max_files_per_trigger=1,
        state_base=state).collect()}
    postings = {r.vec_id: r.cell for r in
                spark.read.parquet(f"{state}/postings")
                .select("vec_id", "cell").collect()}

    static = spark.read.parquet(str(emb_dir))
    cells = _ivf_cells_udf(
        _train_ivf_centroids(static, "embedding", 16,
                             sample_size=2048, n_iters=8), 1)
    want = {r.vec_id: r.cell for r in
            static.select(
                "vec_id", cells(F.col("embedding"))[0].alias("cell"))
            .collect()}
    assert postings == want                      # index == batch assign
    assert sum(counts.values()) == len(rows_all)
    agg = {}
    for c in postings.values():
        agg[c] = agg.get(c, 0) + 1
    assert counts == agg                         # rollup consistent

    # re-deliver vec_id 0 in a fresh file: the standing anti-join must
    # drop it — postings unchanged after a second drain
    spark.createDataFrame(
        [(0, rng.normal(size=8).tolist(), "x")],
        "vec_id long, embedding array<double>, label string") \
        .coalesce(1).write.mode("append").parquet(str(emb_dir))
    streaming_ivf_index(spark, str(d), state_base=state)
    after = {r.vec_id: r.cell for r in
             spark.read.parquet(f"{state}/postings")
             .select("vec_id", "cell").collect()}
    assert after == want

    # genuinely NEW vectors in a third drain must be assigned under the
    # ORIGINAL frozen centroids (persisted in state_base), not a model
    # retrained on the grown corpus — the index must equal the batch
    # assignment of ONE model
    new_rows = [(900 + i, rng.normal(size=8).tolist(), "x")
                for i in range(10)]
    spark.createDataFrame(
        new_rows, "vec_id long, embedding array<double>, label string") \
        .coalesce(1).write.mode("append").parquet(str(emb_dir))
    streaming_ivf_index(spark, str(d), state_base=state)
    final = {r.vec_id: r.cell for r in
             spark.read.parquet(f"{state}/postings")
             .select("vec_id", "cell").collect()}
    want_new = {r.vec_id: r.cell for r in
                spark.createDataFrame(
                    new_rows,
                    "vec_id long, embedding array<double>, label string")
                .select("vec_id",
                        cells(F.col("embedding"))[0].alias("cell"))
                .collect()}   # `cells` holds the ORIGINAL 3-file model
    assert final == {**want, **want_new}


def test_streaming_ivf_4096_cells_broadcast_model(spark, tmp_path):
    """Production-model-size probe: a 4096-centroid model flows through
    a parquet side table beside the postings plus a broadcast variable
    into the assignment UDF — no driver JSON anywhere in state — and
    the drained postings still equal the batch assignment under the
    frozen model READ BACK from the side table."""
    import os

    import numpy as np

    from training_catalog.operators.similarity import (
        _ivf_cells_udf)
    from training_catalog.streaming.embeddings import (
        streaming_ivf_index)
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    d = tmp_path / "src"
    d.mkdir()
    emb_dir = d / "embeddings.parquet"
    rows = [(i, rng.normal(size=16).tolist(), "x") for i in range(5000)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string") \
        .coalesce(2).write.mode("append").parquet(str(emb_dir))
    state = str(tmp_path / "ivf_state")

    counts = {r.cell: r.n_vectors for r in streaming_ivf_index(
        spark, str(d), state_base=state, n_centroids=4096,
        sample_size=4096).collect()}
    assert sum(counts.values()) == 5000
    assert os.path.exists(f"{state}/centroids.parquet")
    assert not os.path.exists(f"{state}/centroids.json")

    cent_rows = (spark.read.parquet(f"{state}/centroids.parquet")
                 .orderBy("cell").collect())
    assert len(cent_rows) == 4096
    cents = np.array([r["centroid"] for r in cent_rows])
    cells = _ivf_cells_udf(spark.sparkContext.broadcast(cents), 1)
    want = {r.vec_id: r.cell
            for r in spark.read.parquet(str(emb_dir))
            .select("vec_id", cells(F.col("embedding"))[0].alias("cell"))
            .collect()}
    got = {r.vec_id: r.cell
           for r in spark.read.parquet(f"{state}/postings")
           .select("vec_id", "cell").collect()}
    assert got == want


def test_streaming_vocab_pair_stats_forced_multi_batch(spark, tmp_path):
    """The vocab ledger must accumulate word counts across micro-batches
    (one file per trigger) and drain into EXACTLY the batch pair-stats
    oracle — words recurring in later batches must merge their counts,
    not shadow or double-count them."""
    import duckdb
    import pandas as pd

    from training_catalog.plans import ORACLES
    from training_catalog.streaming.documents import \
        streaming_vocab_pair_stats

    b1 = [(1, "s1", "banana bandana", "en", 14)]
    b2 = [(2, "s1", "banana cabana", "en", 13)]
    b3 = [(3, "s2", "nаnа banana", "en", 11)]   # cyrillic а variant
    schema = ("doc_id long, source string, text string, lang string, "
              "n_chars long")
    d = tmp_path / "stream_vocab_src"
    d.mkdir()
    tbl = d / "documents.parquet"
    for batch in (b1, b2, b3):
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append").parquet(str(tbl))

    got = sorted(map(tuple, streaming_vocab_pair_stats(
        spark, str(d), max_files_per_trigger=1).collect()))
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        b1 + b2 + b3, columns=["doc_id", "source", "text", "lang",
                               "n_chars"]))
    want = sorted(map(tuple,
                      con.execute(ORACLES["stream_bpe_pair_stats"])
                      .fetchall()))
    assert got == want
    # cross-batch accumulation really happened: 'banana' appears in all
    # three batches, so pair 'an' counts 3 docs' worth of occurrences
    by_pair = {p: (c, n) for p, c, n in got}
    assert by_pair["an"][0] >= 6


def test_streaming_vocab_state_base_pinned_and_reusable(spark, tmp_path):
    """state_base keeps the ledger across calls (idempotent drain: a
    second call with no new files returns the same answer) and refuses
    a different source directory."""
    import pytest as _pytest

    from training_catalog.streaming.documents import \
        streaming_vocab_pair_stats

    d = tmp_path / "src_a"
    d.mkdir()
    spark.createDataFrame(
        [(1, "s1", "alpha beta alpha", "en", 16)],
        "doc_id long, source string, text string, lang string, "
        "n_chars long").coalesce(1).write.parquet(
        str(d / "documents.parquet"))
    state = str(tmp_path / "vocab_state")
    first = sorted(map(tuple, streaming_vocab_pair_stats(
        spark, str(d), state_base=state).collect()))
    second = sorted(map(tuple, streaming_vocab_pair_stats(
        spark, str(d), state_base=state).collect()))
    assert first == second and first
    other = tmp_path / "src_b"
    other.mkdir()
    with _pytest.raises(ValueError, match="pinned to source"):
        streaming_vocab_pair_stats(spark, str(other), state_base=state)


def test_streaming_gopher_quality_forced_multi_batch(spark, tmp_path):
    """The quality ledger must accumulate ADDITIVE per-source counters
    across micro-batches (one file per trigger) and merge into EXACTLY
    the batch oracle — a source spanning batches must sum its partials,
    not shadow them.  Docs are crafted so pass and multiple distinct
    fail reasons land in different batches of the same source."""
    import duckdb
    import pandas as pd

    from training_catalog.plans import ORACLES
    from training_catalog.streaming.documents import \
        streaming_gopher_quality

    stops = ["that", "have", "with"]     # 4-char stops: mean len 4.0
    good = " ".join(stops[i % 3] for i in range(100))      # passes all
    short = "too few words"                                # fails count
    hashy = " ".join(stops[i % 3] + ("#" if i < 20 else "")
                     for i in range(100))                  # fails symbol
    b1 = [(1, "s1", good, "en", len(good))]
    b2 = [(2, "s1", short, "en", len(short)),
          (3, "s2", good, "en", len(good))]
    b3 = [(4, "s1", hashy, "en", len(hashy))]
    schema = ("doc_id long, source string, text string, lang string, "
              "n_chars long")
    d = tmp_path / "stream_gopher_src"
    d.mkdir()
    for batch in (b1, b2, b3):
        spark.createDataFrame(batch, schema).coalesce(1).write.mode(
            "append").parquet(str(d / "documents.parquet"))

    got = sorted(map(tuple, streaming_gopher_quality(
        spark, str(d), max_files_per_trigger=1).collect()))
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(
        b1 + b2 + b3, columns=["doc_id", "source", "text", "lang",
                               "n_chars"]))
    want = sorted(map(tuple,
                      con.execute(ORACLES["stream_gopher_quality"])
                      .fetchall()))
    assert got == want
    by_src = {r[0]: r for r in got}
    # s1 spans all three batches: 3 docs, 1 pass, one count fail from
    # batch 2 and one symbol fail from batch 3 — cross-batch summation
    assert by_src["s1"][1:4] == (3, 1, 1)     # n_docs, n_pass, fail_count
    assert by_src["s1"][5] == 1               # fail_symbol
    assert by_src["s2"][1:3] == (1, 1)
