"""Streaming registry entries. Each callable RUNS a Structured
Streaming query to completion (availableNow → memory sink) and returns
the sink — so even streaming operators get full DuckDB oracle checks
via batch-equivalent SQL.

Exact-result discipline: counts and decimal sums only (order-
independent); session boundaries use the documented session_window
semantics (a new session starts when the gap is ≥ the timeout, since
the previous window is [ts, ts+gap))."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.exact import dec
from ..multimodal.queries import AVC_ORACLE
from ..operators.analytics import FUNNEL_ORACLE, funnel_firsts, funnel_stage_counts
from ..registry import query
from .core import events_stream, run_to_table


@query(
    "stream_tumbling_counts",
    oracle="""
    SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_counts(spark, sf_dir):
    """Tumbling 1-hour windows with watermark; availableNow run is
    batch-equivalent (complete mode), so the oracle is plain GROUP BY."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).cast("double").alias("total_value"),
        )
    )
    out = run_to_table(agg, spark, "complete")
    return out.select(
        F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
    )


@query(
    "stream_sliding_counts",
    oracle="""
    WITH expanded AS (
      SELECT e.*,
             TIMESTAMP '1970-01-01 00:00:00'
               + (CAST(floor(epoch(ts) / 1800) AS BIGINT) - k.k) * INTERVAL 30 MINUTE
               AS window_start
      FROM events e, UNNEST([0, 1]) AS k(k))
    SELECT window_start, COUNT(*) AS n
    FROM expanded
    GROUP BY 1
    """,
)
def stream_sliding_counts(spark, sf_dir):
    """Sliding windows (1 h length, 30 min slide): every event lands in
    2 windows; the oracle reconstructs the window grid arithmetically."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n"))
    )
    out = run_to_table(agg, spark, "complete")
    return out.select(F.col("w.start").alias("window_start"), "n")


@query(
    "stream_session_windows",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id FROM events),
    marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_session
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    sess AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    """,
)
def stream_session_windows(spark, sf_dir):
    """session_window(gap=30min) — Spark's native streaming session
    operator; the oracle is the equivalent batch gap-merge."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
    )
    out = run_to_table(agg, spark, "complete")
    return out.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    )


@query(
    "stream_stream_join_click_purchase",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events)
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id AS user_id
    FROM ev c JOIN ev p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    """,
)
def stream_stream_join_click_purchase(spark, sf_dir):
    """Stream-stream interval join: purchases within 30 min after a
    click by the same user. Both sides watermarked; the time-bound in
    the join condition lets Spark expire state — the only way a
    stream-stream join survives unbounded input."""
    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTE")),
    )
    out = run_to_table(joined, spark, "append")
    return out.select(
        "click_id", "purchase_id", F.col("c_user").alias("user_id")
    )


@query(
    "stream_dedup_within_watermark",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_within_watermark(spark, sf_dir):
    """dropDuplicatesWithinWatermark: dedup whose state expires with
    the watermark — the bounded-memory variant for unbounded streams
    (plain dropDuplicates state grows forever).

    NB: this only equals a global DISTINCT while duplicate keys arrive
    within the watermark delay. The fixture spans 30 days and has
    duplicate keys further apart than any small delay, so the delay is
    set beyond the data span — making the DISTINCT oracle valid under
    ANY micro-batching, not just the current single-file batch."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "35 days")
    deduped = ev.select("user_id", "event_type", "ts").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    out = run_to_table(deduped, spark, "append")
    return out.select("user_id", "event_type")


@query(
    "stream_dedup_keys",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_keys(spark, sf_dir):
    """Streaming dropDuplicates on the key columns (stateful exact
    dedup; within one availableNow run ≡ batch DISTINCT)."""
    ev = events_stream(spark, sf_dir)
    deduped = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return run_to_table(deduped, spark, "append")


@query(
    "stream_static_enrich",
    oracle="""
    SELECT c.c_mktsegment, e.event_type,
           COUNT(*) AS n,
           CAST(CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_enrich(spark, sf_dir):
    """Stream-static enrichment: the event stream joined per
    micro-batch against a static customer dimension (the canonical
    lookup-table pattern — the static side is planned as a broadcast
    into every micro-batch, no stream-side state). Aggregates by
    (segment, event_type) in exact decimal; availableNow + complete
    mode makes the run batch-equivalent for the oracle."""
    from ..catalog import load_table

    ev = events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = ev.join(F.broadcast(dim), "user_id")
    agg = enriched.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n"),
        F.sum(dec("value")).cast("double").alias("total_value"),
    )
    out = run_to_table(agg, spark, "complete")
    return out.select("c_mktsegment", "event_type", "n", "total_value")


@query(
    "stream_running_user_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1
    """,
)
def stream_running_user_totals(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user
    running (count, total) that survives micro-batch boundaries —
    the bespoke-streaming-aggregate shape Spark lacks natively.
    State holds exact integer cents, so the final emission equals the
    batch DECIMAL sum bit-for-bit regardless of how the file source
    micro-batched the events. The memory sink keeps one emission per
    (user, batch); the max-struct pick keeps each user's final state
    (n_events strictly grows for a user across its batches)."""
    from .stateful import running_user_totals

    ev = events_stream(spark, sf_dir)
    out = run_to_table(running_user_totals(ev), spark, "update")
    return out.groupBy("user_id").agg(
        F.max(F.struct("n_events", "total_value")).alias("s")
    ).select(
        "user_id",
        F.col("s.n_events").alias("n_events"),
        F.col("s.total_value").alias("total_value"),
    )


@query(
    "stream_outer_join_unmatched_clicks",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
      FROM events),
    mx AS (
      SELECT LEAST(
               MAX(CASE WHEN event_type = 'click' THEN ts END),
               MAX(CASE WHEN event_type = 'purchase' THEN ts END)
             ) AS wm_ts
      FROM ev)
    SELECT c.event_id AS click_id, p.event_id AS purchase_id,
           c.user_id AS user_id
    FROM ev c CROSS JOIN mx
    LEFT JOIN ev p
      ON c.user_id = p.user_id AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click'
      AND c.ts <= mx.wm_ts - INTERVAL 45 MINUTE
    """,
)
def stream_outer_join_unmatched_clicks(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join: every click emits, with
    its purchase(s) within 30 min if any, else a null-padded row once
    the watermark proves no purchase can still arrive — the abandoned-
    cart shape, and the only outer-join form that survives unbounded
    input (time-bound condition + watermarks let state expire).

    Null rows for a click are only guaranteed once the watermark
    passes click_ts + 30 min; at end-of-stream the GLOBAL watermark is
    the MINIMUM over both inputs' (max event time - 5 min delay) — a
    click stream that goes quiet hours before the purchase stream
    pins the watermark to the CLICK side's end, not the global max ts
    (review r4: guarding on max-over-all-events silently withheld the
    last click's null row whenever one stream ended >45 min before
    the other). BOTH the returned result and the oracle therefore
    restrict to clicks older than least(max click ts, max purchase
    ts) - 45 min (10 min safety margin beyond delay+bound) —
    comparing exactly the region where the outer semantics are
    decided."""
    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "5 minutes")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "5 minutes")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTE")),
        "leftOuter",
    )
    out = run_to_table(joined, spark, "append")
    from ..catalog import load_table

    ev_b = load_table(spark, sf_dir, "events")
    mx = ev_b.agg(
        F.least(
            F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
            F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
        ).alias("wm_ts")
    )
    return (
        out.crossJoin(F.broadcast(mx))
        .filter(
            F.col("c_ts") <= F.col("wm_ts") - F.expr("INTERVAL 45 MINUTE")
        )
        .select(
            "click_id", "purchase_id", F.col("c_user").alias("user_id")
        )
    )


@query(
    "stream_complete_topk_users",
    oracle="""
    SELECT user_id, COUNT(*) AS n,
           CAST(CAST(SUM(CAST(value AS DECIMAL(12,2))) AS STRING) AS DOUBLE) AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY n DESC, user_id
    LIMIT 10
    """,
)
def stream_complete_topk_users(spark, sf_dir):
    """Streaming top-k: the 10 most active users with their exact
    decimal value totals, re-ranked every micro-batch. Sorting a
    stream is only legal in COMPLETE output mode (append/update have
    no final answer to sort) — this pins that mode/operator contract.
    State is the per-user aggregate (bounded by |users|), and the sort
    runs over the AGGREGATED state, not the stream. Ties break on
    user_id so the emitted k rows are deterministic."""
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("value")).alias("tv"),
        )
        .orderBy(F.desc("n"), "user_id")
        .limit(10)
    )
    out = run_to_table(agg, spark, "complete")
    return out.select(
        "user_id", "n", F.col("tv").cast("double").alias("total_value")
    )


@query(
    "stream_cdc_upsert_state",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC,
                                         value DESC) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events)
    SELECT user_id,
           CAST(n AS BIGINT) AS n_events,
           ts AS last_ts,
           event_id AS last_event_id,
           value AS last_value
    FROM ranked WHERE rn = 1
    """,
)
def stream_cdc_upsert_state(spark, sf_dir):
    """foreachBatch upsert sink — the production pattern for
    maintaining a keyed serving table from a stream when the target
    system needs MERGE semantics Spark's built-in sinks don't offer.
    Each micro-batch reduces to one row per user (count + latest
    (ts, event_id, value) struct), then merges into the persisted
    state by associative ops only: n_events adds, the latest-struct
    takes a lexicographic max — value is INSIDE the comparison key,
    and the oracle mirrors the full (ts, event_id, value) tie-break,
    so even a fixture with duplicate (user_id, ts, event_id) rows
    cannot make the engines disagree. Associativity is the correctness
    argument: ANY micro-batch split of the input produces the same
    final table (pinned against 1-batch vs 4-batch runs in
    tests/test_streaming.py).

    The state write is ping-pong (each batch writes state_{id} and
    the next batch reads it back) — the swap-on-publish shape used
    when the sink is a parquet/warehouse table, keeping every batch's
    write atomic-by-rename instead of updating in place. At scale the
    merge is one shuffle keyed by user_id per batch, sized by |keys|,
    not stream length."""
    return run_cdc_upsert(events_stream(spark, sf_dir), spark)


def run_cdc_upsert(ev, spark):
    """Drive the foreachBatch ping-pong upsert over stream ``ev`` to
    completion (availableNow) and return the final keyed state as a
    batch DataFrame. Split out of the registry entry so the batch-split
    invariance test can feed the same sink 1-file and N-file streams.

    The ping-pong snapshots live in a temp dir for the duration of the
    run only: each batch deletes the snapshot it superseded (the write
    of state_{n} is the action that consumed state_{n-1}), and the
    final state is localCheckpoint-ed off the parquet before the whole
    dir is removed — repeated bench/test runs leave nothing in /tmp.
    In production this sink writes a warehouse table; swap-on-publish
    there means the table's previous version, not a temp file."""
    import os
    import shutil
    import tempfile

    from .core import small_shuffle

    root = tempfile.mkdtemp(prefix="spark_graft_cdc_")
    state: dict[str, str | None] = {"path": None}

    def upsert(batch_df, batch_id):
        b = batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.max(F.struct("ts", "event_id", "value")).alias("last"),
        )
        old = state["path"]
        if old is not None:
            prev = batch_df.sparkSession.read.parquet(old)
            b = (
                prev.unionByName(b)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.max("last").alias("last"),
                )
            )
        new_path = os.path.join(root, f"state_{batch_id}")
        b.write.mode("overwrite").parquet(new_path)
        state["path"] = new_path
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)

    try:
        with small_shuffle(spark):
            q = (
                ev.writeStream.foreachBatch(upsert)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        if state["path"] is None:
            # Empty source → zero micro-batches → empty state table.
            from pyspark.sql import types as T

            src = {f.name: f.dataType for f in ev.schema.fields}
            return spark.createDataFrame(
                [],
                T.StructType(
                    [
                        T.StructField("user_id", src["user_id"]),
                        T.StructField("n_events", T.LongType()),
                        T.StructField("last_ts", src["ts"]),
                        T.StructField("last_event_id", src["event_id"]),
                        T.StructField("last_value", src["value"]),
                    ]
                ),
            )
        return (
            spark.read.parquet(state["path"])
            .select(
                "user_id",
                F.col("n_events").cast("bigint").alias("n_events"),
                F.col("last.ts").alias("last_ts"),
                F.col("last.event_id").alias("last_event_id"),
                F.col("last.value").alias("last_value"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query("stream_funnel_stages", oracle=FUNNEL_ORACLE)
def stream_funnel_stages(spark, sf_dir):
    """The ordered view→click→purchase funnel computed ON A STREAM —
    possible without any event-ordering state because the per-user
    funnel reduces to three conditional MINs, which are commutative:
    events may arrive in any order across micro-batches and the
    per-user (t_view, t_click, t_purchase) triple converges to the
    same values. Stage ordering is then pure arithmetic on the final
    triple, evaluated on the completed sink. State is 3 timestamps
    per user — bounded by |users|, independent of stream length; the
    same trick is why funnel metrics can run continuously where
    MATCH_RECOGNIZE-style sequence state cannot.

    Funnel semantics (both aggregation stages AND the oracle) are
    shared verbatim with the batch funnel_view_click_purchase —
    operators/analytics.py::funnel_firsts / funnel_stage_counts —
    so batch and streaming funnels cannot diverge."""
    ev = events_stream(spark, sf_dir)
    out = run_to_table(funnel_firsts(ev), spark, "complete")
    return funnel_stage_counts(out)


@query("stream_avc_ingest", oracle=AVC_ORACLE)
def stream_avc_ingest(spark, sf_dir):
    """Multimodal DECODE-AT-INGEST: the AVC1 rung executed as a
    STRUCTURED STREAMING pipeline — documents arrive as a file stream,
    the batch rung's fused Arrow-batched mapInPandas (blob generation,
    the real bitstream decode and the enforced corpus contracts) runs
    inside each micro-batch, and per-doc rows land in the
    sink append-mode, exactly once. This is the shape a 100 TB
    multimodal ingest actually runs: decode/validate/fingerprint AT
    ingest, not as a later batch pass — per-file parallelism, no
    state, no shuffle, so micro-batch boundaries cannot change any
    row (the decode is per-doc map-only work) and the availableNow
    run is row-identical to the batch rung. The oracle IS the batch
    rung's oracle (multimodal/queries.py::AVC_ORACLE), which makes
    the batch-equivalence claim a driver-checked fact rather than a
    docstring; tests/test_streaming.py additionally pins the stream
    result row-equal to the batch query's. At scale the memory sink
    becomes a parquet/Delta sink and the exactly-once discipline is
    the file-source + checkpoint contract proven for the tickgen
    source in tests/test_streaming.py."""
    from ..multimodal.blobs import RUNGS, run_rung
    from .core import documents_stream

    docs = documents_stream(spark, sf_dir)
    out = run_to_table(run_rung(docs, RUNGS["avc"]), spark, "append")
    return out.select(
        "doc_id",
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        F.col("qp").cast("int").alias("qp"),
        F.col("n_blocks").cast("int").alias("n_blocks"),
        F.col("n_mode0").cast("int").alias("n_mode0"),
        F.col("n_mode1").cast("int").alias("n_mode1"),
        F.col("n_mode2").cast("int").alias("n_mode2"),
        "pixel_sum",
        "recon_exact",
        "within_tolerance",
    )


# ---- stateful dedup-at-ingest (VERDICT r11 #4) ----------------------------

def _dedup_ingest_oracle() -> str:
    from ..dedup.minhash import sql_band_selects, sql_minhash_signatures
    from ..dedup.queries import BATCH_MOD

    return f"""
    WITH sig AS ({sql_minhash_signatures()}),
    bands AS ({sql_band_selects()}),
    streamb AS (SELECT * FROM bands WHERE doc_id % {BATCH_MOD} = 0),
    allb AS (
      SELECT doc_id AS partner_id, band, sig, 'index' AS origin
      FROM bands WHERE doc_id % {BATCH_MOD} <> 0
      UNION ALL
      SELECT doc_id, band, sig, 'stream' FROM streamb),
    m AS (
      SELECT s.doc_id,
             COUNT(DISTINCT a.partner_id) AS n_matches,
             MIN(a.partner_id) AS first_match_id
      FROM streamb s JOIN allb a
        ON s.band = a.band AND s.sig = a.sig
       AND (a.origin = 'index' OR a.partner_id < s.doc_id)
      GROUP BY 1)
    SELECT d.doc_id,
           COALESCE(m.n_matches, 0) AS n_matches,
           m.first_match_id,
           CASE WHEN m.doc_id IS NOT NULL THEN 'dup' ELSE 'new' END AS verdict
    FROM (SELECT doc_id FROM documents WHERE doc_id % {BATCH_MOD} = 0) d
    LEFT JOIN m ON d.doc_id = m.doc_id
    """


def run_dedup_ingest(docs, static_docs, spark):
    """Drive the stateful MinHash-LSH dedup-at-ingest over document
    stream ``docs`` to completion (availableNow) and return the
    per-doc verdict DataFrame. Split out of the registry entry so the
    batch-split invariance test can feed the same pipeline 1-file and
    N-file (id-ordered) streams.

    Per micro-batch, against an APPEND-ONLY band index:
      1. the batch's MinHash band rows are appended to the index under
         an idempotent batch-id-keyed path (retry-safe: a replayed
         batch overwrites its own directory — the file-sink
         exactly-once discipline);
      2. every batch doc is joined (band, sig)-equi against the FULL
         index — the pre-existing corpus partition (origin 'index',
         matched unconditionally) plus all stream band rows with a
         SMALLER doc_id (origin 'stream'), the current batch's own
         rows included, so within-batch duplicates resolve by id;
      3. per-doc verdicts land under the same idempotent per-batch
         convention.

    State is the band index itself — bounded by band-bucket
    cardinality times corpus size, NOT by raw text (8 ints + 4 band
    digests per doc), and append-only: the exact structure
    `dedup_incremental_lsh` reads per day, maintained per micro-batch.
    At 100 TB the index is a bucketed table on (band, sig) and the
    join is bucket-co-located; batch cost scales with increment size
    plus collision count, never corpus size."""
    import shutil
    import tempfile

    from ..dedup.minhash import lsh_bands, minhash_signatures
    from ..dedup.queries import BATCH_MOD
    from .core import small_shuffle

    root = tempfile.mkdtemp(prefix="spark_graft_dedup_ingest_")
    state_dir = f"{root}/state"
    out_dir = f"{root}/out"
    increment = docs.filter(F.col("doc_id") % BATCH_MOD == 0)

    def ingest(batch_df, batch_id):
        bands = lsh_bands(minhash_signatures(batch_df)).withColumn(
            "origin", F.lit("stream")
        )
        bands.write.mode("overwrite").parquet(
            f"{state_dir}/batch={batch_id}"
        )
        ss = batch_df.sparkSession
        index = ss.read.parquet(state_dir)
        s = bands.select("doc_id", "band", "sig")
        a = index.select(
            F.col("doc_id").alias("partner_id"), "band", "sig", "origin"
        )
        matches = (
            s.join(
                a,
                (s["band"] == a["band"])
                & (s["sig"] == a["sig"])
                & (
                    (a["origin"] == "index")
                    | (a["partner_id"] < s["doc_id"])
                ),
            )
            .groupBy(s["doc_id"])
            .agg(
                F.count_distinct("partner_id").alias("n_matches"),
                F.min("partner_id").alias("first_match_id"),
            )
        )
        (
            batch_df.select("doc_id")
            .join(matches, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_matches", F.lit(0).cast("bigint")).alias(
                    "n_matches"
                ),
                "first_match_id",
                F.when(F.col("n_matches").isNotNull(), F.lit("dup"))
                .otherwise(F.lit("new"))
                .alias("verdict"),
            )
            .write.mode("overwrite")
            .parquet(f"{out_dir}/batch={batch_id}")
        )

    try:
        # Seed the index with the pre-existing corpus partition's band
        # rows — the on-disk state `dedup_incremental_lsh` assumes.
        with small_shuffle(spark):
            lsh_bands(minhash_signatures(static_docs)).withColumn(
                "origin", F.lit("index")
            ).write.mode("overwrite").parquet(f"{state_dir}/batch=init")
            q = (
                increment.writeStream.foreachBatch(ingest)
                .trigger(availableNow=True)
                .option("checkpointLocation", f"{root}/ckpt")
                .start()
            )
            q.awaitTermination()
        return spark.read.parquet(out_dir).select(
            "doc_id", "n_matches", "first_match_id", "verdict"
        ).localCheckpoint()
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query("stream_dedup_ingest", oracle=_dedup_ingest_oracle())
def stream_dedup_ingest(spark, sf_dir):
    """DEDUP-AT-INGEST: incremental MinHash-LSH near-dup detection as
    a STATEFUL Structured Streaming pipeline — the stateful sibling of
    `stream_avc_ingest`'s map-only decode-at-ingest. New documents
    arrive as a file stream; each micro-batch's band signatures join
    the persisted band index (pre-existing corpus + all earlier
    arrivals), keep/drop verdicts land exactly-once under
    batch-id-keyed paths, and the batch's own bands extend the index
    for every later batch. See run_dedup_ingest for the state/scale
    design.

    Batch equivalence (this one CANNOT share the batch oracle
    verbatim — it is stateful): a stream doc is 'dup' iff it
    band-matches the static index (unconditionally) or ANY stream doc
    with a smaller doc_id. Under id-ordered arrival — the ingest
    contract, ids assigned monotonically at arrival — that predicate
    is exactly what the per-batch index join computes, for ANY
    micro-batch partitioning: cross-batch partners are in the index
    by the time a later id arrives, and within-batch partners resolve
    by the id comparison. tests/test_streaming.py pins a 3-file
    id-ordered split row-identical to the single-batch run; the
    DuckDB oracle replays the predicate set-wise over `documents`."""
    from ..catalog import load_table
    from ..dedup.queries import BATCH_MOD
    from .core import documents_stream

    docs = documents_stream(spark, sf_dir)
    static = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % BATCH_MOD != 0
    )
    return run_dedup_ingest(docs, static, spark)
