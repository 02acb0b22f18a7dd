"""Streaming tests: stream ≡ batch on replay (SURVEY.md §2b-S), plus
the incremental file-sync pipeline end-to-end."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from distcpplus_spark.streaming.pipelines import (
    EVENTS_JSON_SCHEMA,
    dedup_stream,
    session_totals,
    sliding_totals,
    tumbling_counts,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def event_files(spark, tmp_path_factory):
    """Replay the events table as JSON files (3 chunks) for file-source
    streaming."""
    root = tmp_path_factory.mktemp("events_stream")
    df = __import__(
        "distcpplus_spark.catalog", fromlist=["load_table"]
    ).load_table(spark, SF, "events")
    rows = df.orderBy("event_id").collect()
    n = len(rows)
    for c in range(3):
        chunk = rows[c * n // 3 : (c + 1) * n // 3]
        with open(root / f"chunk{c}.json", "w") as f:
            for r in chunk:
                f.write(
                    json.dumps(
                        {
                            "event_id": r["event_id"],
                            "ts": r["ts"].isoformat(sep=" "),
                            "user_id": r["user_id"],
                            "event_type": r["event_type"],
                            "value": r["value"],
                            "props": r["props"],
                        }
                    )
                    + "\n"
                )
    return str(root), df


def run_stream(spark, stream_df, checkpoint, mode="append"):
    """Drain a streaming DataFrame into an in-memory sink, return the
    materialized result."""
    name = f"sink_{int(time.time() * 1000) % 10 ** 9}"
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def canon(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, event_files, tmp_path):
    root, batch_events = event_files
    stream = (
        spark.readStream.schema(EVENTS_JSON_SCHEMA).json(root)
    )
    got = run_stream(
        spark, tumbling_counts(stream), str(tmp_path / "ck1"), mode="append"
    )
    want = tumbling_counts(batch_events)
    cols = ["win_start", "event_type", "n", "total"]
    # append-mode only emits finalized (watermark-passed) windows; the
    # final windows never close — compare on the common set
    got_rows = dict(
        ((r["win_start"], r["event_type"]), (r["n"], r["total"]))
        for r in got.collect()
    )
    want_rows = dict(
        ((r["win_start"], r["event_type"]), (r["n"], r["total"]))
        for r in want.collect()
    )
    assert len(got_rows) > 0
    for k, v in got_rows.items():
        assert want_rows[k] == v


def test_session_stream_subset_of_batch(spark, event_files, tmp_path):
    root, batch_events = event_files
    stream = spark.readStream.schema(EVENTS_JSON_SCHEMA).json(root)
    got = run_stream(
        spark, session_totals(stream), str(tmp_path / "ck2"), mode="append"
    )
    want = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["total"])
        for r in session_totals(batch_events).collect()
    }
    emitted = got.collect()
    assert len(emitted) > 0
    for r in emitted:
        assert want[(r["user_id"], r["session_start"])] == (
            r["n_events"],
            r["total"],
        )


def test_dedup_stream_drops_replayed_ids(spark, event_files, tmp_path):
    root, batch_events = event_files
    # duplicate one chunk wholesale → replayed ids must come out once
    import shutil

    dup_root = str(tmp_path / "dup_events")
    shutil.copytree(root, dup_root)
    shutil.copy(
        os.path.join(dup_root, "chunk0.json"),
        os.path.join(dup_root, "chunk0_replay.json"),
    )
    stream = spark.readStream.schema(EVENTS_JSON_SCHEMA).json(dup_root)
    got = run_stream(spark, dedup_stream(stream), str(tmp_path / "ck3"))
    ids = [r["event_id"] for r in got.collect()]
    assert len(ids) == len(set(ids))
    assert len(ids) == batch_events.count()


def test_incremental_sync_end_to_end(spark, tmp_path):
    from distcpplus_spark.streaming.incremental_sync import incremental_sync

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_bytes(b"alpha")
    (src / "b.txt").write_bytes(b"bravo12")
    dst = str(tmp_path / "dst")
    ck = str(tmp_path / "ck")

    q = incremental_sync(spark, str(src), dst, ck)
    q.awaitTermination(120)
    base = os.path.join(dst, "src")
    assert os.path.getsize(os.path.join(base, "a.txt")) == 5
    assert os.path.getsize(os.path.join(base, "b.txt")) == 7

    # add a new file → second run syncs ONLY the delta
    (src / "c.txt").write_bytes(b"charlie99")
    q2 = incremental_sync(spark, str(src), dst, ck)
    q2.awaitTermination(120)
    assert os.path.getsize(os.path.join(base, "c.txt")) == 9


def test_incremental_sync_chunked(spark, tmp_path):
    """chunk_bytes splits a micro-batch's large files into byte ranges,
    as in a batch plan: they copy byte-identical and leave no tmp."""
    from distcpplus_spark.engine import CopyOptions
    from distcpplus_spark.streaming.incremental_sync import incremental_sync

    src = tmp_path / "src"
    src.mkdir()
    big = bytes(range(256)) * 1000  # 256,000 bytes → 6 ranges
    (src / "big.bin").write_bytes(big)
    (src / "small.txt").write_bytes(b"tiny")
    dst = tmp_path / "dst"
    opts = CopyOptions(
        update=True, skip_ts_check=True, chunk_bytes=50_000,
        bytes_per_task=100_000,
    )
    q = incremental_sync(spark, str(src), str(dst), str(tmp_path / "ck"), opts)
    q.awaitTermination(120)
    assert (dst / "src" / "big.bin").read_bytes() == big
    assert (dst / "src" / "small.txt").read_bytes() == b"tiny"
    assert sorted(os.listdir(dst / "src")) == ["big.bin", "small.txt"]
    assert not [p for p in os.listdir(dst) if p.startswith("_distcp_tmp_")]


def test_stream_stream_interval_join_equals_batch(spark, tmp_path):
    """Stream-stream interval join replayed over files must produce
    exactly the batch join's pairs (SURVEY.md §2b-S stream≡batch)."""
    import json as _json

    from distcpplus_spark.streaming.pipelines import (
        EVENTS_JSON_SCHEMA,
        signup_followup_join,
    )

    src = tmp_path / "ssj"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01 00:00:00", "user_id": 1,
         "event_type": "signup", "value": 0.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01 00:20:00", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01 02:00:00", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},  # outside 1h
        {"event_id": 4, "ts": "2024-01-01 00:30:00", "user_id": 2,
         "event_type": "click", "value": 1.0, "props": "{}"},  # other user
    ]
    with open(src / "b0.json", "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    def split(df):
        return (
            df.filter(df.event_type == "signup"),
            df.filter(df.event_type != "signup"),
        )

    # batch reference
    bdf = spark.read.schema(EVENTS_JSON_SCHEMA).json(str(src))
    b_s, b_a = split(bdf)
    expected = {
        (r["signup_id"], r["activity_id"])
        for r in signup_followup_join(b_s, b_a).collect()
    }
    assert expected == {(1, 2)}

    # streaming replay
    sdf = spark.readStream.schema(EVENTS_JSON_SCHEMA).json(str(src))
    s_s, s_a = split(sdf)
    out: list = []

    def sink(batch_df, _bid):
        out.extend(batch_df.collect())

    q = (
        signup_followup_join(s_s, s_a)
        .writeStream.foreachBatch(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_ssj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {(r["signup_id"], r["activity_id"]) for r in out}
    assert got == expected


def test_stream_static_enrichment(spark, tmp_path):
    import json as _json

    from distcpplus_spark.streaming.pipelines import (
        EVENTS_JSON_SCHEMA,
        enrich_with_dim,
    )

    src = tmp_path / "enrich"
    src.mkdir()
    with open(src / "b0.json", "w") as f:
        for i, u in enumerate([1, 2, 3]):
            f.write(_json.dumps(
                {"event_id": i, "ts": "2024-01-01 00:00:00", "user_id": u,
                 "event_type": "a", "value": 1.0, "props": "{}"}) + "\n")

    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")], "user_id long, tier string"
    )
    stream = spark.readStream.schema(EVENTS_JSON_SCHEMA).json(str(src))
    out: list = []
    q = (
        enrich_with_dim(stream, dim, "user_id")
        .writeStream.foreachBatch(lambda b, _: out.extend(b.collect()))
        .option("checkpointLocation", str(tmp_path / "ck_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    tiers = {r["user_id"]: r["tier"] for r in out}
    assert tiers == {1: "gold", 2: "silver", 3: None}


def test_bloom_gated_ingest_dedups_across_batches(spark, tmp_path):
    """Three file-source micro-batches with overlapping keys: the
    sink must end up with exactly the distinct new keys (corpus keys
    never re-ingested, cross-batch replays dropped)."""
    import json
    import os

    from distcpplus_spark.streaming.pipelines import bloom_gated_ingest

    src = tmp_path / "src"
    os.makedirs(src)
    corpus = spark.createDataFrame(
        [(f"corp-{i}",) for i in range(50)], "k STRING"
    )
    batches = [
        [f"corp-{i}" for i in range(0, 30)] + ["new-a", "new-b"],
        ["new-b", "new-c", "corp-10"],
        ["new-a", "new-d"],
    ]
    for bi, keys in enumerate(batches):
        with open(src / f"b{bi}.json", "w") as f:
            for k_ in keys:
                f.write(json.dumps({"k": k_}) + "\n")
    stream = spark.readStream.schema("k STRING").option(
        "maxFilesPerTrigger", 1
    ).json(str(src))
    q = bloom_gated_ingest(
        spark, stream, corpus, "k",
        str(tmp_path / "out"), str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    got = sorted(
        r["k"] for r in spark.read.parquet(str(tmp_path / "out")).collect()
    )
    assert got == ["new-a", "new-b", "new-c", "new-d"]


def test_hll_state_merge_is_idempotent_and_order_free(spark, tmp_path):
    """Re-folding the same ids (at-least-once replay) cannot change
    the sketch estimates (union with identical registers is a
    no-op); different batch splits stay inside the HLL error bound
    of each other — NOT exactly equal: single-pass sketches carry
    the non-mergeable HIP estimator, unions fall back to the
    composite estimator, so merge paths differ within the bound
    (the q308 docstring's caveat, pinned here)."""
    import os

    from distcpplus_spark.streaming.hll_state import (
        read_distinct_estimates,
        streaming_distinct_hll,
    )

    df = spark.createDataFrame(
        [(i, "t%d" % (i % 3), i % 500) for i in range(3000)],
        "event_id BIGINT, event_type STRING, user_id BIGINT",
    )

    def run(order_parts, tag):
        base = tmp_path / tag
        src = str(base / "src")
        df.repartition(order_parts).write.json(src)
        stream = (
            spark.readStream.schema(
                "event_id BIGINT, event_type STRING, user_id BIGINT"
            )
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = streaming_distinct_hll(
            stream, "event_type", "user_id",
            str(base / "state"), str(base / "ckpt"),
        )
        q.awaitTermination()
        return {
            r["k"]: r["approx_distinct"]
            for r in read_distinct_estimates(
                spark, str(base / "state")
            ).collect()
        }

    a = run(2, "a")
    b = run(7, "b")
    assert set(a) == set(b)
    for k in a:  # 500 exact; lg_k=12 => ~1.6% RSE, 5% is >3 sigma
        assert abs(a[k] - 500) <= 25 and abs(b[k] - 500) <= 25
    # duplicate delivery: stream the same data twice into ONE state
    base = tmp_path / "dup"
    for i, sub in enumerate(("s1", "s2")):
        src = str(base / sub)
        df.repartition(3).write.json(src)
        from distcpplus_spark.streaming.hll_state import (
            streaming_distinct_hll as sd,
        )

        stream = (
            spark.readStream.schema(
                "event_id BIGINT, event_type STRING, user_id BIGINT"
            )
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = sd(stream, "event_type", "user_id",
               str(base / "state"), str(base / ("ckpt%d" % i)))
        q.awaitTermination()
    dup = {
        r["k"]: r["approx_distinct"]
        for r in read_distinct_estimates(
            spark, str(base / "state")
        ).collect()
    }
    # true idempotence: replaying s2 (same rows) after s1 must leave
    # the estimates exactly where the s1+s2-built state already was —
    # compare against a third pass over the same state
    src = str(base / "s3")
    df.repartition(3).write.json(src)
    stream = (
        spark.readStream.schema(
            "event_id BIGINT, event_type STRING, user_id BIGINT"
        )
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    from distcpplus_spark.streaming.hll_state import (
        streaming_distinct_hll as sd3,
    )

    q = sd3(stream, "event_type", "user_id",
            str(base / "state"), str(base / "ckpt3"))
    q.awaitTermination()
    dup2 = {
        r["k"]: r["approx_distinct"]
        for r in read_distinct_estimates(
            spark, str(base / "state")
        ).collect()
    }
    assert dup2 == dup
