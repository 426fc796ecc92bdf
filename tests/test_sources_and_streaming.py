import json
import textwrap

import pyspark.sql.functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from tpc_di_spark.sources.delimited import read_batch_date, read_pipe_delimited
from tpc_di_spark.sources.fixed_width import read_fixed_width


def test_pipe_delimited_empty_to_null(spark, tmp_path):
    p = tmp_path / "cust.txt"
    p.write_text("U|42|alice|3.5\nI|43||\n")
    schema = StructType(
        [
            StructField("cdc_flag", StringType()),
            StructField("id", IntegerType()),
            StructField("name", StringType()),
            StructField("score", DoubleType()),
        ]
    )
    rows = {r.id: r for r in read_pipe_delimited(spark, str(p), schema).collect()}
    assert rows[42].name == "alice" and rows[42].score == 3.5
    assert rows[43].name is None and rows[43].score is None


def test_batch_date(tmp_path):
    p = tmp_path / "BatchDate.txt"
    p.write_text("2024-01-01\n2024-02-02\n\n")
    assert read_batch_date(str(p)) == "2024-02-02"


def _pad(s, n):
    return (s or "").ljust(n)


def test_fixed_width_finwire(spark, tmp_path):
    cmp_line = (
        _pad("20240101-120000", 15)
        + "CMP"
        + _pad("Acme Corp", 60)
        + _pad("0000012345", 10)
        + _pad("ACTV", 4)
        + _pad("IT", 2)
        + _pad("AAA", 4)
        + _pad("19990101", 8)
        + _pad("1 Main St", 80)
        + _pad("", 80)
        + _pad("12345", 12)
        + _pad("Springfield", 25)
        + _pad("IL", 20)
        + _pad("USA", 24)
        + _pad("J Doe", 46)
        + _pad("widgets", 150)
    )
    sec_line = (
        _pad("20240102-120000", 15)
        + "SEC"
        + _pad("ACME", 15)
        + _pad("COMMON", 6)
        + _pad("ACTV", 4)
        + _pad("Acme Common", 70)
        + _pad("NYSE", 6)
        + _pad("1000000", 13)
        + _pad("20000101", 8)
        + _pad("20000102", 8)
        + _pad("1.25", 12)
        + _pad("Acme Corp", 60)
    )
    p = tmp_path / "FINWIRE2024Q1"
    p.write_text(cmp_line + "\n" + sec_line + "\n")

    cmp_df = read_fixed_width(spark, str(p), "CMP")
    row = cmp_df.collect()[0]
    assert row.company_name == "Acme Corp"
    assert row.sp_rating == "AAA"
    assert row.addr_line2 is None  # empty -> NULL (SURVEY P11)

    sec_df = read_fixed_width(spark, str(p), "SEC")
    srow = sec_df.collect()[0]
    assert srow.symbol == "ACME" and srow.sh_out == 1000000 and srow.dividend == 1.25
    assert cmp_df.count() == 1 and sec_df.count() == 1


def test_xml_actions(spark, tmp_path):
    xml = textwrap.dedent(
        """\
        <?xml version="1.0"?>
        <TPCDI:Actions xmlns:TPCDI="http://www.tpc.org/tpc-di">
          <Action ActionType="NEW" ActionTS="2024-01-01T10:00:00">
            <Customer C_ID="7" C_TAX_ID="tx-7" C_GNDR="F" C_TIER="2" C_DOB="1980-01-01">
              <Name><C_L_NAME>Doe</C_L_NAME><C_F_NAME>Jane</C_F_NAME></Name>
              <Account CA_ID="70" CA_TAX_ST="1"><CA_B_ID>9</CA_B_ID><CA_NAME>main</CA_NAME></Account>
              <Account CA_ID="71" CA_TAX_ST="0"><CA_B_ID>9</CA_B_ID><CA_NAME>extra</CA_NAME></Account>
            </Customer>
          </Action>
          <Action ActionType="INACT" ActionTS="2024-02-01T10:00:00">
            <Customer C_ID="7"/>
          </Action>
        </TPCDI:Actions>
        """
    )
    p = tmp_path / "CustomerMgmt.xml"
    p.write_text(xml)
    from tpc_di_spark.sources.xml_actions import explode_accounts, read_actions

    actions = read_actions(spark, str(p))
    rows = actions.orderBy("action_ts").collect()
    assert [r.action_type for r in rows] == ["NEW", "INACT"]
    assert rows[0].customer._C_ID == "7"
    assert rows[0].customer.Name.C_F_NAME == "Jane"

    accts = explode_accounts(actions).orderBy("ca_id").collect()
    new_accts = [a for a in accts if a.action_type == "NEW"]
    assert [a.ca_id for a in new_accts] == ["70", "71"]
    assert new_accts[0].ca_name == "main"


def test_multimodal_feature_extraction(spark):
    from tpc_di_spark.functions.multimodal import (
        ASSET_SCHEMA,
        extract_features,
        frame_sample_plan,
    )

    import struct

    # real 2x2 binary PPM: pixels (10,20,30) x3 and (250,250,250)
    ppm = b"P6\n# a comment\n2 2\n255\n" + bytes([10, 20, 30] * 3 + [250] * 3)
    # real 2x2 24-bit BMP, bottom-up, 2-byte row padding: all pixels 100
    bmp_rows = (bytes([100] * 6) + b"\x00\x00") * 2
    bmp = (
        b"BM" + struct.pack("<IHHI", 54 + len(bmp_rows), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(bmp_rows), 0, 0, 0, 0)
        + bmp_rows
    )
    rows = [
        (1, "image", bytearray(ppm), (2, 2, None, None, "ppm")),
        (2, "video", bytearray(b"\xff" * 10), (64, 48, None, 3500, "fake")),
        (3, "audio", None, (None, None, 16000, 2000, "pcm")),
        (4, "image", bytearray(bmp), (2, 2, None, None, "bmp")),
        (5, "image", bytearray(b"\x01\x02\x03\x04"), (2, 2, None, None, "raw")),
    ]
    assets = spark.createDataFrame(rows, ASSET_SCHEMA)
    feats = {r.asset_id: r for r in extract_features(assets).collect()}
    # PPM really decoded: mean over the 12 samples = (3*(10+20+30)+3*250)/12
    assert (feats[1].decoded_width, feats[1].decoded_height) == (2, 2)
    assert feats[1].feat_mean == int((3 * 60 + 750) / 12)
    # BMP really decoded: padding bytes excluded from the mean
    assert (feats[4].decoded_width, feats[4].decoded_height) == (2, 2)
    assert feats[4].feat_mean == 100
    # non-image bytes take the deterministic fallback (decoded_width NULL)
    assert feats[5].n_bytes == 4 and feats[5].feat_mean == 2
    assert feats[5].decoded_width is None
    assert feats[3].n_bytes is None and feats[3].content_hash is None

    plan = frame_sample_plan(assets, every_ms=1000).collect()
    assert {(r.asset_id, r.frame_idx, r.ts_ms) for r in plan} == {
        (2, 0, 0), (2, 1, 1000), (2, 2, 2000)
    }


def test_streaming_foreachbatch_cdc(spark, tmp_path):
    import datetime as dt

    from tpc_di_spark.cdc import CdcOrchestrator, current_state
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
    from tpc_di_spark.streaming.stream_apply import start_cdc_stream, stream_events

    src = tmp_path / "stream_src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [("I", 1, "c1", 0, "user", "hello", t0)], CHANGE_EVENT_SCHEMA
    ).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [("U", 2, "c1", 0, "user", "hello-edited", t0 + dt.timedelta(seconds=5))],
        CHANGE_EVENT_SCHEMA,
    ).write.parquet(str(src / "f2"))

    table = bootstrap_table(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    events = stream_events(spark, str(src) + "/*", max_files_per_trigger=1)
    q = start_cdc_stream(events, orch, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    rows = current_state(table).collect()
    assert len(rows) == 1 and rows[0].text == "hello-edited"
    # Restarting the stream over the same source is a no-op (exactly-once).
    q2 = start_cdc_stream(
        stream_events(spark, str(src) + "/*", max_files_per_trigger=1),
        orch, str(tmp_path / "ckpt"),
    )
    q2.awaitTermination(120)
    assert current_state(table).count() == 1

    # MoR streaming mode with periodic compaction over a fresh table.
    t2 = bootstrap_table(spark, str(tmp_path / "lake2"), TRANSCRIPT_SCHEMA, num_buckets=4)
    o2 = CdcOrchestrator(t2)
    q3 = start_cdc_stream(
        stream_events(spark, str(src) + "/*", max_files_per_trigger=1),
        o2, str(tmp_path / "ckpt2"), mode="mor", compact_every=2,
    )
    q3.awaitTermination(120)
    from tpc_di_spark.cdc.mor import pending_delta_batches

    assert current_state(t2).count() == 1
    assert current_state(t2).collect()[0].text == "hello-edited"
    assert pending_delta_batches(t2.refresh()) == []


def test_streaming_mor_restart_idempotent(spark, tmp_path):
    """Exactly-once under streaming x MoR (VERDICT r03 #8): a restarted
    stream — including a FULL re-delivery from a wiped checkpoint, the
    worst case where Spark replays every micro-batch — must not append
    duplicate delta batches: apply_batch_mor's batch-id gate makes the
    re-delivered epochs no-ops."""
    import datetime as dt

    from tpc_di_spark.cdc import CdcOrchestrator
    from tpc_di_spark.cdc.mor import current_state_mor, pending_delta_batches
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
    from tpc_di_spark.streaming.stream_apply import start_cdc_stream, stream_events

    src = tmp_path / "src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [("I", 1, "c1", 0, "user", "v1", t0)], CHANGE_EVENT_SCHEMA
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [("U", 2, "c1", 0, "user", "v2", t0 + dt.timedelta(seconds=5)),
         ("I", 3, "c2", 0, "user", "w1", t0 + dt.timedelta(seconds=6))],
        CHANGE_EVENT_SCHEMA,
    ).coalesce(1).write.parquet(str(src / "f2"))

    table = bootstrap_table(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)

    def run(ckpt):
        q = start_cdc_stream(
            stream_events(spark, str(src) + "/*", max_files_per_trigger=1),
            orch, str(tmp_path / ckpt), mode="mor",
        )
        q.awaitTermination(120)

    run("ckpt")
    table.refresh()
    deltas_once = pending_delta_batches(table)
    snap_once = table.snapshot.snapshot_id
    assert len(deltas_once) == 2, "one MoR delta batch per micro-batch"
    state = {r.conv_id: r.text for r in current_state_mor(table).collect()}
    assert state == {"c1": "v2", "c2": "w1"}

    # restart on the same checkpoint: Spark re-delivers nothing
    run("ckpt")
    table.refresh()
    assert pending_delta_batches(table) == deltas_once

    # wiped checkpoint: every micro-batch is re-delivered with the same
    # epoch ids -> same batch ids -> table-side skip, no new snapshot
    run("ckpt_fresh")
    table.refresh()
    assert pending_delta_batches(table) == deltas_once
    assert table.snapshot.snapshot_id == snap_once
    assert {r.conv_id: r.text for r in current_state_mor(table).collect()} == state


def test_session_window_matches_batch_sessionize(spark):
    """session_window (streaming twin) and operators/windows.sessionize
    (batch form) must agree on session boundaries and sizes."""
    import datetime as dt

    from tpc_di_spark.operators.windows import sessionize
    from tpc_di_spark.streaming.windowed import session_window_counts

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, "c1", t0),
        (2, "c1", t0 + dt.timedelta(minutes=10)),
        (3, "c1", t0 + dt.timedelta(minutes=50)),  # 40min gap -> new session
        (4, "c2", t0),
    ]
    df = spark.createDataFrame(rows, "event_id long, conv_id string, ts timestamp")
    sw = session_window_counts(df, key_cols=["conv_id"], gap="30 minutes").collect()
    got = {(r.conv_id, str(r.first_ts)): r.n_events for r in sw}
    batch = sessionize(df, ["conv_id"], "ts", "event_id")
    import pyspark.sql.functions as F

    b = {
        (r.conv_id, str(r.first_ts)): r.n
        for r in batch.groupBy("conv_id", "session_idx")
        .agg(F.count("*").alias("n"), F.min("ts").alias("first_ts"))
        .collect()
    }
    assert got == b == {
        ("c1", "2024-01-01 12:00:00"): 2,
        ("c1", "2024-01-01 12:50:00"): 1,
        ("c2", "2024-01-01 12:00:00"): 1,
    }


def test_windowed_counts_with_watermark_drops_late_events(spark, tmp_path):
    """End-to-end through a real file-tail stream with a persistent
    checkpoint, two runs: run 1 advances the watermark to 02:50; run 2
    delivers a 00:07 event (late, dropped) and a 03:10 event (on time).
    Update mode makes the distinction observable: run 2 must emit ONLY
    the hour-3 window update — a surviving late event would also emit an
    hour-0 update."""
    import datetime as dt

    from tpc_di_spark.streaming.windowed import windowed_event_counts

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def run(name):
        events = (
            spark.readStream.schema("conv_id string, ts timestamp").parquet(str(src / "*"))
        )
        out = windowed_event_counts(
            events, key_cols=["conv_id"], window_duration="1 hour", watermark="10 minutes"
        )
        emitted: list = []

        def sink(batch_df, epoch_id):
            emitted.extend(batch_df.collect())

        # foreachBatch (not the memory sink) because only it supports
        # checkpoint recovery — the watermark must survive across runs.
        q = (
            out.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        return {str(r.window_start): r.n_events for r in emitted}

    spark.createDataFrame(
        [("c1", t0 + dt.timedelta(minutes=5)), ("c1", t0 + dt.timedelta(minutes=20)),
         ("c1", t0 + dt.timedelta(hours=3))],  # advances watermark to 02:50
        "conv_id string, ts timestamp",
    ).coalesce(1).write.parquet(str(src / "f1"))
    r1 = run("win_run1")
    assert r1 == {"2024-01-01 00:00:00": 2, "2024-01-01 03:00:00": 1}

    spark.createDataFrame(
        [("c1", t0 + dt.timedelta(minutes=7)),     # LATE: < 02:50 watermark
         ("c1", t0 + dt.timedelta(hours=3, minutes=10))],
        "conv_id string, ts timestamp",
    ).coalesce(1).write.parquet(str(src / "f2"))
    r2 = run("win_run2")
    assert r2 == {"2024-01-01 03:00:00": 2}, (
        f"late 00:07 event must be dropped, not update the closed window: {r2}"
    )


def test_running_conversation_state_across_microbatches(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: per-conversation
    state accumulates across micro-batches (2 files -> 2 batches)."""
    import datetime as dt

    from tpc_di_spark.streaming.windowed import running_conversation_state

    src = tmp_path / "src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [("c1", "user", t0), ("c1", "assistant", t0 + dt.timedelta(minutes=1)), ("c2", "user", t0)],
        "conv_id string, role string, ts timestamp",
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [("c1", "tool", t0 + dt.timedelta(minutes=2))],
        "conv_id string, role string, ts timestamp",
    ).coalesce(1).write.parquet(str(src / "f2"))

    events = (
        spark.readStream.schema("conv_id string, role string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*"))
    )
    q = (
        running_conversation_state(events)
        .writeStream.format("memory").queryName("conv_state")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    # memory sink in update mode appends every emitted row; take the LAST per key.
    rows = spark.sql("SELECT * FROM conv_state").collect()
    latest = {}
    for r in rows:
        if r.conv_id not in latest or r.n_turns > latest[r.conv_id].n_turns:
            latest[r.conv_id] = r
    assert latest["c1"].n_turns == 3 and latest["c1"].last_role == "tool"
    assert latest["c2"].n_turns == 1 and latest["c2"].last_role == "user"
    # last_ts must round-trip as MICROSECONDS regardless of the pandas/
    # Arrow timestamp resolution (ADVICE r02: a ns-resolution stack would
    # have produced a wildly wrong epoch here without the explicit
    # datetime64[us] normalization).
    assert latest["c1"].last_ts == t0 + dt.timedelta(minutes=2)
    assert latest["c2"].last_ts == t0


def test_streaming_consumer_restart_idempotent(spark, tmp_path):
    """VERDICT r04 #4: a changelog consumer attached to the streaming
    tail stays exactly-once across stream restarts — including a full
    re-delivery from a wiped checkpoint: the re-delivered epochs are
    apply-side no-ops (committed batch ids) and the attached consumer's
    re-refresh sees an empty pending range, so its state and checkpoint
    are untouched end to end."""
    import datetime as dt

    import pyspark.sql.functions as F

    from tpc_di_spark.cdc import CdcOrchestrator
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.lake.incremental_view import IncrementalView
    from tpc_di_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
    from tpc_di_spark.streaming.stream_apply import start_cdc_stream, stream_events

    src = tmp_path / "src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [("I", 1, "c1", 0, "user", "v1", t0),
         ("I", 2, "c1", 1, "assistant", "a1", t0)],
        CHANGE_EVENT_SCHEMA,
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [("U", 3, "c1", 0, "user", "v2-longer", t0 + dt.timedelta(seconds=5)),
         ("D", 4, "c1", 1, None, None, t0 + dt.timedelta(seconds=6))],
        CHANGE_EVENT_SCHEMA,
    ).coalesce(1).write.parquet(str(src / "f2"))

    table = bootstrap_table(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    view = IncrementalView(
        table, str(tmp_path / "view"), ["role"],
        [("count_live", None, "live_turns"),
         ("sum_live", "cast(length(text) as bigint)", "live_chars"),
         # the close of the assistant's only version ties its max: the
         # observed dirty count and the repair run inside foreachBatch
         ("max_live", "ts", "max_ts")],
    )

    def viewed():
        return {r.role: (r.live_turns, r.live_chars, r.max_ts) for r in view.state().collect()}

    def run(ckpt):
        q = start_cdc_stream(
            stream_events(spark, str(src) + "/*", max_files_per_trigger=1),
            orch, str(tmp_path / ckpt), consumers=[view],
        )
        q.awaitTermination(120)

    run("ckpt")
    recompute = {
        r.role: (r.live, r.chars, r.max_ts)
        for r in table.refresh().read().groupBy("role").agg(
            F.sum(F.col("is_current").cast("long")).alias("live"),
            # SQL SUM: the assistant's emptied group reads NULL
            F.sum(F.when(F.col("is_current"), F.length("text").cast("long"))).alias("chars"),
            F.max(F.when(F.col("is_current"), F.col("ts"))).alias("max_ts"),
        ).collect()
    }
    got = viewed()
    assert got == recompute
    assert got["user"] == (1, len("v2-longer"), t0 + dt.timedelta(seconds=5))
    assert got["assistant"] == (1 - 1, None, None)
    ck_after = view._load_ckpt()

    # restart on the same checkpoint (nothing re-delivered)
    run("ckpt")
    assert view._load_ckpt() == ck_after
    assert viewed() == got

    # wiped checkpoint: full re-delivery, same epoch ids -> apply no-ops
    # -> consumer refresh sees no new committed batches -> state frozen
    run("ckpt_fresh")
    assert view._load_ckpt() == ck_after
    assert viewed() == got


def test_debezium_reader_quarantine_and_apply(spark, tmp_path):
    """sources/debezium.py: envelope AND unwrap-SMT forms parse; deletes
    ride the before-image; malformed lines land in quarantine with a
    reason (never silently dropped); parsed events apply through the
    normal CDC path."""
    import json

    from tpc_di_spark.cdc import CdcOrchestrator, current_state
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA
    from pyspark.sql import types as T
    from tpc_di_spark.sources.debezium import read_debezium_json

    payload = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("role", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    row = {"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "v1"}
    row2 = {"conv_id": "c1", "turn_idx": 0, "role": "user", "text": "v2"}
    lines = [
        # raw Connect envelope: create
        json.dumps({"payload": {"op": "c", "ts_ms": 1000, "after": row,
                                "source": {"lsn": 1}}}),
        # unwrap-SMT flattened form: update (lsn via source.pos fallback)
        json.dumps({"op": "u", "ts_ms": 2000, "before": row, "after": row2,
                    "source": {"pos": 2}}),
        # snapshot read of a second key
        json.dumps({"payload": {"op": "r", "ts_ms": 1500,
                                "after": {**row, "turn_idx": 1, "text": "snap"},
                                "source": {"lsn": 3}}}),
        # delete of that key: before-image only
        json.dumps({"op": "d", "ts_ms": 3000,
                    "before": {"conv_id": "c1", "turn_idx": 1,
                               "role": None, "text": None},
                    "source": {"lsn": 4}}),
        "this is not json",
        json.dumps({"payload": {"op": "z", "ts_ms": 1}}),          # unknown op
        json.dumps({"op": "c", "ts_ms": 5000, "source": {"lsn": 9}}),  # no image
        json.dumps({"op": "c", "after": row, "source": {"lsn": 10}}),  # no ts_ms
        json.dumps({"op": "c", "ts_ms": 6000, "after": row}),  # no source position
    ]
    src = tmp_path / "dbz.jsonl"
    src.write_text("\n".join(lines) + "\n")

    events, quarantine = read_debezium_json(spark, str(src), payload)
    ev = {(r.cdc_flag, r.cdc_dsn): (r.conv_id, r.turn_idx, r.text) for r in events.collect()}
    assert ev == {
        ("I", 1): ("c1", 0, "v1"),
        ("U", 2): ("c1", 0, "v2"),
        ("I", 3): ("c1", 1, "snap"),
        ("D", 4): ("c1", 1, None),
    }
    reasons = sorted(r.reason for r in quarantine.collect())
    assert reasons == [
        "malformed json or schema mismatch",
        "missing or unknown op",
        "missing source position",
        "missing ts_ms",
        "no row image for op",
    ]

    # end-to-end: the parsed tail applies through the normal CDC path
    table = bootstrap_table(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    CdcOrchestrator(table).apply_batch(events, 1)
    state = {(r.conv_id, r.turn_idx): r.text for r in current_state(table).collect()}
    assert state == {("c1", 0): "v2"}

    # streaming twin: the same JSONL dir tailed via readStream into the
    # same CDC machinery yields the same final state
    from tpc_di_spark.sources.debezium import stream_debezium_events
    from tpc_di_spark.streaming.stream_apply import start_cdc_stream

    t2 = bootstrap_table(spark, str(tmp_path / "lake2"), TRANSCRIPT_SCHEMA, num_buckets=4)
    raw_stream, transform = stream_debezium_events(
        spark, str(tmp_path) + "/*.jsonl", payload
    )
    qdir = str(tmp_path / "quarantine")
    q = start_cdc_stream(
        raw_stream,
        CdcOrchestrator(t2),
        str(tmp_path / "ckpt"),
        transform=transform,
        quarantine_dir=qdir,
    )
    q.awaitTermination(120)
    assert {
        (r.conv_id, r.turn_idx): r.text for r in current_state(t2).collect()
    } == state
    # the poisoned lines landed durably, with reasons, on the streaming
    # path too (no silent loss)
    qrows = spark.read.parquet(qdir + "/epoch-*").collect()
    assert len(qrows) == 5 and all(r.reason for r in qrows)


def test_streaming_wap_audit_gate(spark, tmp_path):
    """Per-micro-batch write-audit-publish on the streaming tail
    (stream_apply audit_checks): a passing epoch publishes, a failing
    epoch is quarantined with its audit report and never reaches
    readers, and a restart re-delivers nothing."""
    import datetime as dt
    import json

    from tpc_di_spark.cdc import CdcOrchestrator, current_state
    from tpc_di_spark.cdc.orchestrator import bootstrap_table
    from tpc_di_spark.lake.wap import list_branches, row_count_delta
    from tpc_di_spark.schemas import CHANGE_EVENT_SCHEMA, TRANSCRIPT_SCHEMA
    from tpc_di_spark.streaming.stream_apply import start_cdc_stream, stream_events

    src = tmp_path / "src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    # Epoch 0: 2 inserts (inside the <=3-row growth envelope). Epoch 1:
    # 5 inserts (violates it — a runaway upstream).
    spark.createDataFrame(
        [("I", 1, "c1", 0, "user", "v1", t0),
         ("I", 2, "c2", 0, "user", "w1", t0)],
        CHANGE_EVENT_SCHEMA,
    ).coalesce(1).write.parquet(str(src / "f1"))
    spark.createDataFrame(
        [("I", i, f"c{i}", 0, "user", "x", t0 + dt.timedelta(seconds=i))
         for i in range(10, 15)],
        CHANGE_EVENT_SCHEMA,
    ).coalesce(1).write.parquet(str(src / "f2"))

    table = bootstrap_table(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table)
    qdir = tmp_path / "quarantine"

    def run(ckpt):
        q = start_cdc_stream(
            stream_events(spark, str(src) + "/*", max_files_per_trigger=1),
            orch, str(tmp_path / ckpt), mode="cow",
            audit_checks=[row_count_delta(max_delta=3)],
            quarantine_dir=str(qdir),
        )
        q.awaitTermination(120)

    run("ckpt")
    table.refresh()
    # Only the passing epoch is visible; no branch refs linger.
    state = {r.conv_id: r.text for r in current_state(table).collect()}
    assert state == {"c1": "v1", "c2": "w1"}
    assert list_branches(table) == {}
    # The failing epoch is quarantined with its report.
    edir = qdir / "audit-failed-epoch-000001"
    assert spark.read.parquet(str(edir)).count() == 5
    report = json.loads((edir / "_audit.json").read_text())
    assert any(not r["ok"] for r in report)

    # Restart: nothing re-delivered, state unchanged.
    run("ckpt")
    table.refresh()
    assert {r.conv_id: r.text for r in current_state(table).collect()} == state

    # Wiped checkpoint: the published epoch re-stages as a committed
    # no-op and re-publishes nothing; the failed epoch re-fails.
    run("ckpt_fresh")
    table.refresh()
    assert {r.conv_id: r.text for r in current_state(table).collect()} == state


def test_streaming_wap_keeps_orchestrator_config(spark, tmp_path):
    """The audited stream stages each micro-batch through an orchestrator
    configured like the caller's: with null_key_policy="drop", a
    micro-batch holding one NULL-key event publishes its other rows and
    counts the dropped one (a hand-built staged orchestrator fell back to
    "error" and failed the epoch)."""
    import datetime as dt
    import os

    from tpc_di_spark.cdc import CdcOrchestrator, current_state
    from tpc_di_spark.cdc.orchestrator import bootstrap_table, metrics_path
    from tpc_di_spark.lake.wap import list_branches, not_null
    from tpc_di_spark.schemas import TRANSCRIPT_SCHEMA
    from tpc_di_spark.streaming.stream_apply import start_cdc_stream, stream_events

    src = tmp_path / "src"
    src.mkdir()
    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [("I", 1, "c1", 0, "user", "v1", t0),
         ("I", 2, "c2", 0, "user", "w1", t0),
         ("I", 3, None, 0, "user", "no key", t0)],
        # CHANGE_EVENT_SCHEMA declares the key non-nullable; the upstream
        # file is exactly what breaks that promise.
        "cdc_flag string, cdc_dsn long, conv_id string, turn_idx int, "
        "role string, text string, ts timestamp",
    ).coalesce(1).write.parquet(str(src / "f1"))

    table = bootstrap_table(spark, str(tmp_path / "lake"), TRANSCRIPT_SCHEMA, num_buckets=4)
    orch = CdcOrchestrator(table, null_key_policy="drop")
    q = start_cdc_stream(
        stream_events(spark, str(src) + "/*"),
        orch, str(tmp_path / "ckpt"), base_batch_id=100,
        audit_checks=[not_null(table.key_cols)],
        quarantine_dir=str(tmp_path / "quarantine"),
    )
    q.awaitTermination(120)
    assert q.exception() is None
    table.refresh()
    assert {r.conv_id: r.text for r in current_state(table).collect()} == {
        "c1": "v1", "c2": "w1",
    }
    assert list_branches(table) == {}
    assert not os.path.exists(tmp_path / "quarantine")
    with open(metrics_path(table.path, 100)) as f:
        assert json.load(f)["events_null_key"] == 1
