"""Streaming CTR pipeline (ST1/ST2): micro-batch file stream with
out-of-order, duplicate, and malformed records (FIXTURES.md §11)."""

from __future__ import annotations

import base64
import json
import os
import time

import pytest

from redshift_etl_spark.streaming import ctr


def _rec(contact_id=None, init="2024-01-15T15:00:00Z", agent=True, raw=None):
    if raw is not None:
        payload = raw
    else:
        doc = {
            "Channel": "VOICE",
            "InitiationMethod": "INBOUND",
            "InitiationTimestamp": init,
            "DisconnectTimestamp": "2024-01-15T15:10:00Z",
        }
        if contact_id:
            doc["ContactId"] = contact_id
        if agent:
            doc["Agent"] = {
                "ARN": "arn:aws:connect:r:1:instance/i/agent/AG1",
                "Username": "jdoe",
                "ConnectedToAgentTimestamp": "2024-01-15T15:00:30Z",
                "AgentInteractionDuration": 540,
                "NumberOfHolds": 1,
                "LongestHoldDuration": 30,
                "CustomerHoldDuration": 30,
            }
        payload = json.dumps(doc).encode()
    return {"data": base64.b64encode(payload).decode()}


def _write_batch(tmp_path, name, records):
    p = tmp_path / name
    with open(p, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def test_batch_flatten_semantics(spark):
    """The ST1 transforms on a static frame: malformed → null struct,
    missing ContactId dropped, nested flatten + tz shift + defaults."""
    rows = [
        _rec("C1"),
        _rec(None),                      # no ContactId → dropped
        _rec(raw=b"not json"),           # malformed → dropped
        _rec("C2", agent=False),         # no Agent block → null agent cols
    ]
    df = spark.createDataFrame([(r["data"],) for r in rows], "data string")
    flat = ctr.flatten_ctr(ctr.parse_ctr_records(df))
    out = {r["contact_id"]: r for r in flat.collect()}
    assert set(out) == {"C1", "C2"}
    c1 = out["C1"]
    assert str(c1["init_time"]) == "2024-01-15 10:00:00"   # UTC→NY (EST)
    assert c1["agent_id"] == "AG1"
    assert c1["agent_interact_duration"] == 540
    assert c1["contact_duration"] == 600.0
    c2 = out["C2"]
    assert c2["agent_id"] is None
    assert c2["agent_interact_duration"] == 0               # F15 default
    assert c2["agent_holds"] == 0


@pytest.mark.slow
def test_stream_dedup_across_microbatches(spark, tmp_path):
    """ST2: duplicate ContactIds within and across micro-batches are
    dropped by the watermarked state (replaces DynamoDB)."""
    indir = tmp_path / "in"
    indir.mkdir()
    _write_batch(indir, "b1.json", [_rec("C1"), _rec("C2"), _rec("C1")])
    _write_batch(indir, "b2.json", [_rec("C2"), _rec("C3"), _rec(None)])

    stream = ctr.build_ctr_stream(
        spark, str(indir), watermark="1 hour", max_files_per_trigger=1
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("ctr_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql(
        "SELECT contact_id, count(*) AS n FROM ctr_out GROUP BY 1"
    ).collect()
    counts = {r["contact_id"]: r["n"] for r in out}
    assert counts == {"C1": 1, "C2": 1, "C3": 1}


@pytest.mark.slow
def test_stream_foreach_batch_sink(spark, tmp_path):
    """ST1 stage 3: foreachBatch parquet append + restartable
    checkpoint."""
    indir = tmp_path / "in"
    indir.mkdir()
    _write_batch(indir, "b1.json", [_rec("C1"), _rec("C2")])
    stream = ctr.build_ctr_stream(spark, str(indir))
    q = ctr.start_append_sink(
        stream, str(tmp_path / "fact"), str(tmp_path / "ckpt2")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    fact = spark.read.parquet(str(tmp_path / "fact"))
    assert {r["contact_id"] for r in fact.collect()} == {"C1", "C2"}
    assert fact.schema["contact_duration"].dataType.typeName() == "double"


@pytest.mark.slow
def test_stream_session_windows(spark, tmp_path):
    """The same F.session_window the batch catalog query uses, running
    on a stream: sessions close (and append) only once the watermark
    passes session_end, so state is bounded — the property that makes
    the operator viable on an unbounded 100 TB stream."""
    from pyspark.sql import functions as F

    indir = tmp_path / "ev"
    indir.mkdir()
    with open(indir / "b1.json", "w") as f:
        f.write('{"ts": "2024-01-15 10:00:00", "user_id": 1, "value": 1.0}\n')
        f.write('{"ts": "2024-01-15 10:02:00", "user_id": 1, "value": 2.0}\n')
    with open(indir / "b2.json", "w") as f:
        # 10:30 advances the watermark past session_end 10:07 → closes it
        f.write('{"ts": "2024-01-15 10:30:00", "user_id": 2, "value": 9.0}\n')

    stream = (
        spark.readStream.schema("ts string, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
        .withColumn("ts", F.to_timestamp("ts"))
        .withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events", "sum_value")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT * FROM sess_out").collect()
    closed = {(r["user_id"], str(r["session_start"]), r["n_events"], r["sum_value"]) for r in rows}
    # user 1's merged 2-event session closed; user 2's is still open
    assert closed == {(1, "2024-01-15 10:00:00", 2, 3.0)}


@pytest.mark.slow
def test_stream_stream_time_bounded_join(spark, tmp_path):
    """Stream-stream inner join with watermarks on both sides and a
    time-range condition — the condition is what lets Spark EVICT
    buffered rows once the watermark passes their join window, so state
    stays bounded on unbounded streams (without it, both sides buffer
    forever)."""
    from pyspark.sql import functions as F

    cdir, bdir = tmp_path / "clicks", tmp_path / "buys"
    cdir.mkdir(); bdir.mkdir()
    with open(cdir / "c1.json", "w") as f:
        f.write('{"ts": "2024-01-15 10:00:00", "user_id": 1}\n')
        f.write('{"ts": "2024-01-15 10:00:00", "user_id": 2}\n')
    with open(bdir / "b1.json", "w") as f:
        f.write('{"bts": "2024-01-15 10:04:00", "user_id": 1}\n')   # in window
        f.write('{"bts": "2024-01-15 11:00:00", "user_id": 2}\n')   # too late

    def src(path, col):
        return (
            spark.readStream.schema(f"{col} string, user_id long")
            .json(str(path))
            .withColumn(col, F.to_timestamp(col))
            .withWatermark(col, "10 minutes")
        )

    q = (
        src(cdir, "ts").alias("c")
        .join(
            src(bdir, "bts").alias("b"),
            F.expr(
                "c.user_id = b.user_id AND "
                "bts BETWEEN ts AND ts + INTERVAL 10 MINUTES"
            ),
            "inner",
        )
        .select(F.col("c.user_id").alias("user_id"), "ts", "bts")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_ss"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT user_id FROM ss_join_out").collect()
    assert [r["user_id"] for r in rows] == [1]


@pytest.mark.slow
def test_stream_restart_exactly_once(spark, tmp_path):
    """Kill the query, add data, restart a NEW query from the same
    checkpoint: already-committed batches are not reprocessed and new
    data arrives exactly once — the recovery contract a 1000-executor
    deployment leans on when executors/drivers die mid-run."""
    indir = tmp_path / "in"
    indir.mkdir()
    fact = str(tmp_path / "fact")
    ckpt = str(tmp_path / "ckpt_restart")

    _write_batch(indir, "b1.json", [_rec("C1"), _rec("C2")])
    q1 = ctr.start_append_sink(
        ctr.build_ctr_stream(spark, str(indir)), fact, ckpt
    )
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()

    # data lands while the query is DOWN (b2 includes a C1 duplicate,
    # which the watermark dedup must still drop after recovery)
    _write_batch(indir, "b2.json", [_rec("C3"), _rec("C1")])
    q2 = ctr.start_append_sink(
        ctr.build_ctr_stream(spark, str(indir)), fact, ckpt
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    rows = spark.read.parquet(fact).groupBy("contact_id").count().collect()
    counts = {r["contact_id"]: r["count"] for r in rows}
    assert counts == {"C1": 1, "C2": 1, "C3": 1}


def _drain_ctr(spark, indir, fact, ckpt):
    """Run the CTR sink over ``indir`` (one file per trigger) until it
    is drained; returns the ids of the batches that read data."""
    q = ctr.start_append_sink(
        ctr.build_ctr_stream(spark, str(indir), max_files_per_trigger=1),
        fact,
        ckpt,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return [p["batchId"] for p in q.recentProgress if p["numInputRows"] > 0]


def _crash_inside(ckpt, n):
    """Leave the checkpoint as a crash inside batch ``n`` leaves it:
    ``offsets/n`` planned, no ``commits/n``, nothing later."""
    for log in ("offsets", "commits"):
        for name in os.listdir(os.path.join(ckpt, log)):
            batch = int(name.lstrip(".").removesuffix(".crc"))
            if batch > n or (batch == n and log == "commits"):
                os.remove(os.path.join(ckpt, log, name))


def _ctr_input(tmp_path, batches):
    indir = tmp_path / "in"
    indir.mkdir()
    now = time.time()
    for i, ids in enumerate(batches):
        _write_batch(indir, f"b{i}.json", [_rec(c) for c in ids])
        os.utime(indir / f"b{i}.json", (now - 100 + i * 10,) * 2)
    return indir


def _fact_ids(spark, fact):
    return sorted(r["contact_id"] for r in spark.read.parquet(fact).collect())


def test_ctr_replayed_batch_lands_once(spark, tmp_path):
    """A data batch replayed from the same checkpoint (its commit lost)
    overwrites its own epoch partition: every contact lands once."""
    indir = _ctr_input(tmp_path, [["C1", "C2"], ["C3", "C1"], ["C4", "C5"]])
    fact, ckpt = str(tmp_path / "fact"), str(tmp_path / "ckpt")
    n = max(_drain_ctr(spark, indir, fact, ckpt))
    _crash_inside(ckpt, n)
    assert n in _drain_ctr(spark, indir, fact, ckpt)  # it really replayed
    assert _fact_ids(spark, fact) == ["C1", "C2", "C3", "C4", "C5"]
    assert os.path.isdir(os.path.join(fact, f"epoch={n}"))


def test_ctr_restart_after_crash_inside_batch_zero(spark, tmp_path):
    """A checkpoint with batch 0 planned but not committed is the
    store's own checkpoint: the restart is allowed and replays once."""
    indir = _ctr_input(tmp_path, [["C1", "C2"]])
    fact, ckpt = str(tmp_path / "fact"), str(tmp_path / "ckpt")
    assert _drain_ctr(spark, indir, fact, ckpt) == [0]
    _crash_inside(ckpt, 0)
    assert _drain_ctr(spark, indir, fact, ckpt) == [0]
    assert _fact_ids(spark, fact) == ["C1", "C2"]


def test_ctr_fact_of_the_flat_layout_is_refused(spark, tmp_path):
    """A fact of the earlier flat-append layout is refused at start:
    ``epoch=N`` dirs beside its root files would hide those files from
    every reader."""
    fact = str(tmp_path / "fact")
    spark.createDataFrame([("C1",)], "contact_id string").write.parquet(fact)
    indir = _ctr_input(tmp_path, [["C2"]])
    with pytest.raises(ValueError, match="no 'epoch' partition column"):
        _drain_ctr(spark, indir, fact, str(tmp_path / "ckpt"))
    assert _fact_ids(spark, fact) == ["C1"]


def test_rate_source_ctr_stream_backpressure_and_dedup(spark):
    """S10/ST1 over a TRUE unbounded source: the rate source drives
    trigger scheduling + admission control (rowsPerSecond), and the
    synthetic duplicate pattern proves stateful dedup drops records
    continuously — not only on file replays."""
    import time

    from redshift_etl_spark.streaming import ctr as C

    stream = C.build_ctr_rate_stream(
        spark, rows_per_second=200, dup_every=10, num_partitions=2
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_ctr")
        .outputMode("append")
        .start()
    )
    try:
        # NOTE: never processAllAvailable() on a rate stream — the
        # source is unbounded, so "all available" never drains; poll
        # the sink until enough rows flowed instead.
        # generous deadline: under suite load a micro-batch can take
        # seconds; the contract is "rows flow and dedup holds", not
        # latency
        deadline = time.time() + 90
        while time.time() < deadline:
            n = spark.table("rate_ctr").count()
            if n >= 150:
                break
            time.sleep(0.5)
        q.stop()
        rows = spark.table("rate_ctr").collect()
        ids = [r["contact_id"] for r in rows]
        assert len(ids) >= 150, "stream produced too few rows"
        # exactly-once per ContactId survived an unbounded source
        assert len(ids) == len(set(ids))
        # dedup proof from the data itself (recentProgress is async and
        # can lag the sink, so don't count admitted rows from it): the
        # dup pattern maps value 10k → id 10k−1, so ids ≡ 0 (mod 10)
        # never occur (except 0), and every id ≡ 9 (mod 10) was fed by
        # TWO admitted records — its single output row IS a drop.
        nums = {int(i.split("-")[1]) for i in ids}
        assert not any(n % 10 == 0 and n > 0 for n in nums)
        assert any(n % 10 == 9 for n in nums)
    finally:
        q.stop()
        spark.catalog.dropTempView("rate_ctr")


def test_stream_merge_sink_upserts_lake_table(spark, tmp_path):
    """CDC apply: micro-batches MERGE into a versioned lake table —
    overlapping keys are upserted latest-wins, so the current snapshot
    is current state, not an append log, and a row older than the
    stored one loses even when it arrives later."""
    import json
    import os
    import time

    from redshift_etl_spark.sources import versioned as V

    indir = tmp_path / "in"
    indir.mkdir()
    target = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    (indir / "b1.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"k": 1, "v": "a", "ver": 1},
                {"k": 2, "v": "b", "ver": 1},
            ]
        )
    )
    (indir / "b2.json").write_text(
        "\n".join(
            json.dumps(r)
            for r in [
                {"k": 2, "v": "B2", "ver": 2},  # update
                {"k": 3, "v": "c", "ver": 2},   # insert
                {"k": 1, "v": "stale", "ver": 0},  # older — must lose
            ]
        )
    )
    # the file source orders by mtime: pin b1 before b2 so the stale
    # row lands in the second micro-batch, after k=1 is stored
    now = time.time()
    for i, n in enumerate(("b1.json", "b2.json")):
        t = now - 100 * (2 - i)
        os.utime(indir / n, (t, t))

    stream = (
        spark.readStream.schema("k long, v string, ver long")
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    q = V.start_versioned_merge_sink(stream, target, ckpt, "k", "ver")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["k"]: (r["v"], r["ver"])
        for r in V.read_current(spark, target).collect()
    }
    assert got == {1: ("a", 1), 2: ("B2", 2), 3: ("c", 2)}


def test_stream_static_dim_enrichment(spark, tmp_path):
    """Stream-static join: a streaming fact enriches against a static
    broadcast dim inside the micro-batch plan — no state store, the
    dim is re-resolved per batch (picks up dim updates between
    triggers)."""
    import json

    from pyspark.sql import functions as F

    indir = tmp_path / "in"
    indir.mkdir()
    (indir / "f.json").write_text(
        "\n".join(json.dumps({"k": i % 3, "x": i}) for i in range(9))
    )
    dim = spark.createDataFrame(
        [(0, "zero"), (1, "one"), (2, "two")], "k long, name string"
    )
    stream = spark.readStream.schema("k long, x long").json(str(indir))
    enriched = stream.join(F.broadcast(dim), "k")
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.table("enrich").collect()
    assert len(rows) == 9
    assert {r["name"] for r in rows} == {"zero", "one", "two"}
    spark.catalog.dropTempView("enrich")


def test_stream_dedup_state_expires_past_watermark(spark, tmp_path):
    """ST2 state is BOUNDED: dropDuplicatesWithinWatermark expires a
    key's entry once the watermark passes its event time, so (a) a
    duplicate arriving after the horizon is re-emitted — the documented
    semantic trade for state that stays O(contacts per horizon) at
    100 TB — while (b) duplicates inside the horizon still drop. With a
    plain dropDuplicates(contact_id) the late duplicate would be
    suppressed forever and the state store would never shrink."""
    import os
    import time as _time

    indir = tmp_path / "in"
    indir.mkdir()
    # horizon = 1h. C1@10:00 seen; b2 advances the watermark to 12:00
    # via C2@13:00 (and checks an in-horizon duplicate); b3 runs WITH
    # that watermark, so C1's entry (expires 11:00) is evicted at its
    # end (eviction is end-of-batch); b4 re-sends C1 — state gone →
    # re-emitted.
    _write_batch(indir, "b1.json", [_rec("C1", init="2024-01-15T10:00:00Z")])
    _write_batch(indir, "b2.json", [_rec("C2", init="2024-01-15T13:00:00Z"),
                                    _rec("C2", init="2024-01-15T13:00:00Z")])
    _write_batch(indir, "b3.json", [_rec("C3", init="2024-01-15T13:10:00Z")])
    _write_batch(indir, "b4.json", [_rec("C1", init="2024-01-15T13:30:00Z")])
    # the file source orders by modification time; same-second mtimes
    # tie-break arbitrarily, so pin strictly increasing mtimes
    now = _time.time()
    for i, name in enumerate(("b1.json", "b2.json", "b3.json", "b4.json")):
        os.utime(indir / name, (now - 400 + i * 100, now - 400 + i * 100))

    stream = ctr.build_ctr_stream(
        spark, str(indir), watermark="1 hour", max_files_per_trigger=1
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("ctr_expiry")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    counts = {
        r["contact_id"]: r["n"]
        for r in spark.sql(
            "SELECT contact_id, count(*) AS n FROM ctr_expiry GROUP BY 1"
        ).collect()
    }
    spark.catalog.dropTempView("ctr_expiry")
    assert counts["C2"] == 1          # in-horizon duplicate dropped
    assert counts["C1"] == 2          # post-horizon duplicate re-emitted


@pytest.mark.slow
def test_streaming_binned_histogram_quantiles(spark, tmp_path):
    """The mergeable fixed-bin histogram works as a STREAMING aggregate:
    bin counts accumulate across micro-batches in update mode (integer
    adds — the mergeability that exact percentiles lack), and the final
    sink state yields the same quantile as a batch recompute."""
    import json
    import os
    import time

    import pyspark.sql.functions as F
    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    indir = tmp_path / "in"
    indir.mkdir()
    schema = StructType(
        [StructField("k", StringType()), StructField("v", DoubleType())]
    )
    b1 = [("g", float(x % 40)) for x in range(200)]
    b2 = [("g", float((x * 7) % 90)) for x in range(300)]
    for name, rows in (("b1.json", b1), ("b2.json", b2)):
        with open(indir / name, "w") as f:
            for k, v in rows:
                f.write(json.dumps({"k": k, "v": v}) + "\n")
    now = time.time()
    for i, n in enumerate(("b1.json", "b2.json")):
        t = now - 100 * (2 - i)
        os.utime(indir / n, (t, t))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(indir))
    )
    width, bins = 10.0, 10
    bin_c = F.least(
        F.lit(bins - 1),
        F.greatest(F.lit(0), F.floor(F.col("v") / width).cast("long")),
    ).alias("bin")
    agg = stream.select("k", bin_c).groupBy("k", "bin").count()
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("hist_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    hist = spark.sql(
        "SELECT k, bin, count AS cnt FROM hist_stream"
    )
    from redshift_etl_spark.operators import rollup as RU

    est = RU.binned_quantiles(
        hist, ["k"], [(1, 2)], 0.0, width
    ).collect()[0]
    batch = spark.createDataFrame(b1 + b2, schema)
    direct = RU.binned_quantiles(
        RU.binned_histogram(batch, ["k"], "v", 0.0, width, bins),
        ["k"],
        [(1, 2)],
        0.0,
        width,
    ).collect()[0]
    assert est["p50"] == direct["p50"]
    assert est["n_rows"] == direct["n_rows"] == 500
