package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.sources.Tables
import graft.queries.Analytics.dsum

/** Structured-Streaming tier. Every streaming operator here is a
  * SHARED transform: the same function body runs as a batch DataFrame
  * job (what Verify/the oracle check) and inside `readStream →
  * transform → writeStream` (what StreamingSpec drives through
  * MemoryStream) — the lambda-architecture trap of divergent
  * batch/stream logic is structurally impossible.
  *
  * Scale notes: windowed aggregation state is bounded by the
  * watermark (2h late-data horizon, 1h windows); streaming dedupe
  * state is bounded per key-and-watermark; the sessionizer keeps one
  * open session per user in GroupState. All state lives in the
  * executor state store, partitioned by the grouping key — the same
  * shuffle layout the batch twin uses.
  */
object Streams {

  /** Tumbling 1-hour windowed aggregation per event type. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming form: watermarked so window state is dropped 2h after
    * event time passes (bounded state at any input rate). */
  def windowedAggStream(events: DataFrame): DataFrame =
    windowedAgg(events.withWatermark("ts", "2 hours"))

  /** Batch entry (queries key `stream_windowed_agg`): identical
    * transform over the events table. */
  def windowedAggBatch(spark: SparkSession, dir: String): DataFrame =
    windowedAgg(Tables.events(spark, dir))

  val windowedAggOracleSql: String =
    """SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin

  /** HOPPING (sliding) window aggregation — 1-hour windows advancing
    * every 15 minutes, the smoothing shape tumbling windows can't
    * express (a spike at :59 shows in four overlapping reports, not
    * one). Spark's window TVF assigns each event to all
    * `window/slide` = 4 covering windows — a bounded ×4 row expansion
    * BEFORE the keyed aggregation, which is the honest cost of
    * overlap (state = 4 open windows per (type,) key instead of 1;
    * still rate-independent). Same transform body batch (driver key,
    * oracle below) and streaming (watermarked, StreamingSpec asserts
    * stream == batch). */
  def hopWindowedAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Streaming form: watermark bounds open windows; with a 1h/15m hop
    * the state is ≤ (2h + 1h) / 15m windows per key at any rate. */
  def hopWindowedAggStream(events: DataFrame): DataFrame =
    hopWindowedAgg(events.withWatermark("ts", "2 hours"))

  /** Batch entry (queries key `stream_hop_windows`). */
  def hopWindowedAggBatch(spark: SparkSession, dir: String): DataFrame =
    hopWindowedAgg(Tables.events(spark, dir))

  /** Oracle: each event joins the 4 hop starts covering it —
    * `floor(ts, 15m) - {0,15,30,45}m` — replaying the TVF expansion
    * exactly (micros-precision grid arithmetic). */
  val hopWindowedAggOracleSql: String =
    """WITH hops AS (
      |  SELECT event_type, value,
      |    time_bucket(INTERVAL 15 MINUTE, CAST(ts AS TIMESTAMP))
      |      - unnest([INTERVAL 0 MINUTE, INTERVAL 15 MINUTE,
      |                INTERVAL 30 MINUTE, INTERVAL 45 MINUTE]) AS window_start
      |  FROM events
      |)
      |SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
      |FROM hops
      |GROUP BY 1, 2, 3""".stripMargin

  /** Tumbling 1-hour DISTINCT-USER cardinality via the HLL sketch —
    * the streaming form of [[graft.operators.Sketches]]. Streaming
    * aggregation cannot run an exact `count(distinct)` at all (state
    * would be the full key set and Spark rejects the plan); the
    * sketch's 2^p-byte register buffer is exactly what the state
    * store holds per window, merged by elementwise max across
    * micro-batches — bounded state at any input rate, and the SAME
    * estimate the batch twin computes (asserted in StreamingSpec,
    * hash-checked through the batch oracle). */
  def windowedApproxNdv(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(call_function("hll_ndv",
        xxhash64(col("user_id")), lit(graft.operators.Sketches.P)).as("ndv_users"))
      .select(col("w.start").as("window_start"), col("ndv_users"))

  /** Streaming form: watermarked so window state (one register array
    * per open window) is dropped 2h after event time passes. */
  def windowedApproxNdvStream(events: DataFrame): DataFrame =
    windowedApproxNdv(events.withWatermark("ts", "2 hours"))

  /** Batch entry (queries key `stream_approx_ndv`). */
  def windowedApproxNdvBatch(spark: SparkSession, dir: String): DataFrame =
    windowedApproxNdv(Tables.events(spark, dir))

  /** Stream-static ENRICHMENT: join each event against a precomputed
    * per-user profile dim — the canonical "attach the user table to
    * the click stream" shape. In Structured Streaming a stream⋈static
    * inner/left join is stateless: the static side is broadcast (or
    * re-read per micro-batch if it changes), NO state store grows, so
    * this is the scale-safe way to decorate an unbounded stream with
    * dimension attributes. The SAME transform body runs in batch
    * (what the oracle checks) and over `readStream` (StreamingSpec).
    *
    * Derived columns stay in integer microseconds (`div` seconds) so
    * both engines agree bit-for-bit. */
  def enrichWithProfile(events: DataFrame, profile: DataFrame): DataFrame =
    events
      .join(broadcast(profile), Seq("user_id"), "left")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("first_seen"), col("n_user_events"),
        expr("(unix_micros(ts) - unix_micros(first_seen)) div 1000000")
          .as("sec_since_first"))

  /** The profile dim: first-seen instant + event count per user,
    * computed from history (in production: read from the curated
    * zone; the aggregate IS that curation). */
  def userProfile(events: DataFrame): DataFrame =
    events.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_seen"),
        count(lit(1)).as("n_user_events"))

  /** Batch entry (queries key `stream_enrich`). */
  def enrichBatch(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
    enrichWithProfile(events, userProfile(events))
  }

  /** Streaming form: the profile df must be STATIC (a snapshot read);
    * joining two streams would need watermarked state — different
    * operator, different guarantees. */
  def enrichStream(eventsStream: DataFrame, profileStatic: DataFrame): DataFrame =
    enrichWithProfile(eventsStream, profileStatic)

  val enrichOracleSql: String =
    """WITH p AS (
      |  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS first_seen,
      |    COUNT(*) AS n_user_events
      |  FROM events GROUP BY 1)
      |SELECT e.event_id, CAST(e.ts AS TIMESTAMP) AS ts, e.user_id,
      |  e.event_type, e.value, p.first_seen, p.n_user_events,
      |  (epoch_us(CAST(e.ts AS TIMESTAMP)) - epoch_us(p.first_seen)) // 1000000
      |    AS sec_since_first
      |FROM events e LEFT JOIN p USING (user_id)""".stripMargin

  // --- stream-stream interval join (click→purchase attribution) ---

  /** Attribution lookback in microseconds: a purchase is credited to
    * every click by the same user within the preceding hour. The
    * SQL-interval form below must stay in sync (streaming join
    * condition; the batch form uses the micros directly). */
  val AttributionLookbackUs: Long = 3600L * 1000000L
  val AttributionLookback = "INTERVAL 1 HOUR"

  /** Stream-STREAM interval join: each purchase joined to the same
    * user's clicks in the preceding hour — the canonical attribution
    * shape, and the §2.7 operator [[enrichWithProfile]] deliberately
    * is not (static side there; two unbounded sides here). The join
    * key is the user_id EQUALITY plus an event-time range, which is
    * precisely what makes the streaming form runnable: Spark derives
    * state-eviction watermarks from the time-range condition, so each
    * side buffers only one lookback window of rows per key instead of
    * the whole stream. The same condition makes the batch form a plain
    * shuffled equi-join on user_id with the range as a post-join
    * filter — no interval explosion, scale-safe on both paths.
    *
    * `lag_sec` stays in integer microsecond arithmetic (`div`) so both
    * engines agree bit-for-bit. */
  def attributeClicks(clicks: DataFrame, purchases: DataFrame): DataFrame =
    purchases.alias("p")
      .join(clicks.alias("c"),
        expr(s"""p.user_id = c.user_id
                 AND c.click_ts >= p.purchase_ts - $AttributionLookback
                 AND c.click_ts <= p.purchase_ts"""))
      .select(col("p.purchase_id"), col("p.user_id"), col("p.purchase_ts"),
        col("p.purchase_value"), col("c.click_id"), col("c.click_ts"),
        expr("(unix_micros(p.purchase_ts) - unix_micros(c.click_ts)) div 1000000")
          .as("lag_sec"))

  /** The two sides, projected from the raw event stream. Split BEFORE
    * the join so each side carries its own event-time column (a
    * stream-stream join needs a watermark per input). */
  def clickSide(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))

  def purchaseSide(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))

  /** Streaming form: both sides watermarked; with the range condition
    * above, click state older than (purchase watermark − lookback) and
    * purchase state older than the click watermark are evicted —
    * bounded state at any input rate. */
  def attributeClicksStream(clicks: DataFrame, purchases: DataFrame): DataFrame =
    attributeClicks(
      clicks.withWatermark("click_ts", "2 hours"),
      purchases.withWatermark("purchase_ts", "2 hours"))

  /** Batch form of the attribution join, BINNED: quantize both sides
    * onto the lookback-width time grid and equi-join on
    * (user_id, bucket), each purchase probing its own bucket and the
    * previous one — every in-window (purchase, click) pair meets
    * exactly once (a click's bucket is unique), and the exact range
    * check runs as a post-join filter. Same trick as
    * [[graft.operators.RangeJoin]], same output as [[attributeClicks]].
    *
    * Why not the plain user_id join for batch: per-key candidates grow
    * quadratically with per-user event rate (measured 266M candidate
    * pairs → 372k results on the 100× ScaleCheck corpus). The bucket
    * key bounds candidates to adjacent-bucket pairs — proportional to
    * the true output, not to rate². The STREAMING form keeps the raw
    * range condition: there the watermark already bounds buffered
    * state, and Spark derives it from that condition.
    *
    * Buckets use FLOOR division, not Spark's truncate-toward-zero
    * `div`: the adjacency invariant (click bucket ∈ {pBk, pBk−1})
    * needs the grid monotone across zero, and `div` would fold the
    * two buckets around epoch 0 into one for pre-1970 timestamps,
    * silently dropping in-window pairs that straddle the boundary.
    * `(x − pmod(x, L)) div L` is exact-integer floor for any sign. */
  private def floorBucketUs(tsCol: String): org.apache.spark.sql.Column =
    expr(s"(unix_micros($tsCol) - pmod(unix_micros($tsCol), $AttributionLookbackUs))" +
      s" div $AttributionLookbackUs")

  def attributeClicksBinned(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withColumn("bk", floorBucketUs("click_ts"))
    val pBk = floorBucketUs("purchase_ts")
    val p = purchases.withColumn("bk", explode(array(pBk, pBk - 1L)))
    p.join(c, Seq("user_id", "bk"))
      .filter(
        col("click_ts") >= expr(s"purchase_ts - $AttributionLookback") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("purchase_value"), col("click_id"), col("click_ts"),
        expr("(unix_micros(purchase_ts) - unix_micros(click_ts)) div 1000000")
          .as("lag_sec"))
  }

  /** The same split + join over ONE events frame (batch form). */
  def attributeClicksBatchFrames(events: DataFrame): DataFrame =
    attributeClicksBinned(clickSide(events), purchaseSide(events))

  /** Batch entry (queries key `stream_join`): identical join body over
    * the two projections of the events table. */
  def attributeClicksBatch(spark: SparkSession, dir: String): DataFrame =
    attributeClicksBatchFrames(Tables.events(spark, dir))

  // --- left-outer attribution (unmatched purchases kept) ---

  /** LEFT-OUTER attribution: every purchase appears — paired with each
    * in-window click, or ONCE with null click columns when no click by
    * that user precedes it within the lookback. This is the mode real
    * attribution reporting needs (the inner form silently drops
    * organic purchases, which is exactly the number a conversion
    * report divides by).
    *
    * Batch shape: ONE pass — the binned LEFT-outer equi-join on
    * (user_id, bucket) (candidates ∝ true output, never rate², same
    * grid as [[attributeClicksBinned]]), then a purchase-keyed window
    * resolves outer semantics: keep the in-window rows; when a
    * purchase has none, keep exactly one row (its own-bucket one) with
    * the click columns nulled. A naive left-outer over the exploded
    * two-bucket probe would instead emit a spurious null row for a
    * purchase whose matches all sit in its OTHER probe bucket — and
    * the alternative anti-join formulation pays a second full
    * execution of the join to find the unmatched ids. The window
    * shuffle moves candidate-sized data, which the bins already bound. */
  def attributeClicksOuter(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.withColumn("bk", floorBucketUs("click_ts"))
    val pBkMain = floorBucketUs("purchase_ts")
    val p = purchases.withColumn("pbk", pBkMain)
      .withColumn("bk", explode(array(col("pbk"), col("pbk") - 1L)))
    val inWin = col("click_ts").isNotNull &&
      col("click_ts") >= expr(s"purchase_ts - $AttributionLookback") &&
      col("click_ts") <= col("purchase_ts")
    // per-purchase ordering is total: bk is distinct across a
    // purchase's two probe rows, click_id is unique within a bucket
    val byPurchase = Window.partitionBy(col("purchase_id"))
    val firstRow = Window.partitionBy(col("purchase_id"))
      .orderBy(col("bk").desc, col("click_id").asc_nulls_first)
    p.join(c, Seq("user_id", "bk"), "left_outer")
      .withColumn("in_win", inWin)
      .withColumn("n_win", sum(col("in_win").cast("int")).over(byPurchase))
      .withColumn("rn", row_number().over(firstRow))
      .filter(col("in_win") || (col("n_win") === 0 && col("rn") === 1))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("purchase_value"),
        when(col("in_win"), col("click_id")).as("click_id"),
        when(col("in_win"), col("click_ts")).as("click_ts"),
        when(col("in_win"),
          expr("(unix_micros(purchase_ts) - unix_micros(click_ts)) div 1000000"))
          .as("lag_sec"))
  }

  /** Streaming form: Spark's watermark-bounded left-outer interval
    * join — the raw range condition (not the bins; the watermark
    * already bounds state, see [[attributeClicksBinned]]'s scaladoc).
    * A purchase's null row is emitted once the CLICK-side watermark
    * passes its purchase_ts, i.e. when no future click can still land
    * in its lookback window — outer results are therefore delayed by
    * the watermark, which is the only correct option on an unbounded
    * stream (emitting earlier could need a retraction). */
  def attributeClicksOuterStream(clicks: DataFrame, purchases: DataFrame): DataFrame =
    purchases.withWatermark("purchase_ts", "2 hours").alias("p")
      .join(clicks.withWatermark("click_ts", "2 hours").alias("c"),
        expr(s"""p.user_id = c.user_id
                 AND c.click_ts >= p.purchase_ts - $AttributionLookback
                 AND c.click_ts <= p.purchase_ts"""),
        "left_outer")
      .select(col("p.purchase_id"), col("p.user_id").as("user_id"),
        col("p.purchase_ts"), col("p.purchase_value"),
        col("c.click_id"), col("c.click_ts"),
        expr("(unix_micros(p.purchase_ts) - unix_micros(c.click_ts)) div 1000000")
          .as("lag_sec"))

  /** Batch entry (queries key `stream_join_outer`). */
  def attributeClicksOuterBatch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    attributeClicksOuter(clickSide(ev), purchaseSide(ev))
  }

  val attributeClicksOuterOracleSql: String =
    """WITH c AS (
      |  SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS click_ts
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, event_id AS purchase_id,
      |    CAST(ts AS TIMESTAMP) AS purchase_ts, value AS purchase_value
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.purchase_id, p.user_id, p.purchase_ts, p.purchase_value,
      |  c.click_id, c.click_ts,
      |  (epoch_us(p.purchase_ts) - epoch_us(c.click_ts)) // 1000000 AS lag_sec
      |FROM p LEFT JOIN c ON p.user_id = c.user_id
      |  AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
      |  AND c.click_ts <= p.purchase_ts""".stripMargin

  val attributeClicksOracleSql: String =
    """WITH c AS (
      |  SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS click_ts
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT user_id, event_id AS purchase_id,
      |    CAST(ts AS TIMESTAMP) AS purchase_ts, value AS purchase_value
      |  FROM events WHERE event_type = 'purchase')
      |SELECT p.purchase_id, p.user_id, p.purchase_ts, p.purchase_value,
      |  c.click_id, c.click_ts,
      |  (epoch_us(p.purchase_ts) - epoch_us(c.click_ts)) // 1000000 AS lag_sec
      |FROM p JOIN c ON p.user_id = c.user_id
      |  AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
      |  AND c.click_ts <= p.purchase_ts""".stripMargin

  /** Keep-FIRST dedupe key and its deterministic batch order. */
  private val dedupeKey = Seq("user_id", "event_type", "event_date")

  /** Batch twin of streaming keep-first dedupe: one row per
    * (user, type, day), the EARLIEST by (ts, event_id). The streaming
    * form (dropDuplicates after watermark) keeps the first-arrived
    * row; with event-time-ordered arrival the two agree — asserted in
    * StreamingSpec. */
  def keepFirstBatch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Merge.keepFirst(
        Tables.events(spark, dir).withColumn("event_date", to_date(col("ts"))),
        keys = dedupeKey.map(col),
        orderCol = col("ts"), tiebreak = col("event_id"))
      .select("event_id", "ts", "user_id", "event_type", "event_date", "value")

  val keepFirstOracleSql: String =
    """SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
      |  CAST(ts AS DATE) AS event_date, value
      |FROM (
      |  SELECT *, CAST(ts AS DATE) AS event_date, ROW_NUMBER() OVER (
      |    PARTITION BY user_id, event_type, CAST(ts AS DATE)
      |    ORDER BY ts, event_id) AS rn
      |  FROM events) t
      |WHERE rn = 1""".stripMargin

  /** Streaming keep-first: dropDuplicatesWithinWatermark — unlike
    * plain dropDuplicates on non-event-time keys (whose state is
    * NEVER evicted, since the watermark can only clean state when the
    * event-time column is part of the key), this variant expires each
    * key's state once the watermark passes its event time, so state
    * stays bounded on an unbounded stream. */
  def keepFirstStream(events: DataFrame): DataFrame =
    events
      .withColumn("event_date", to_date(col("ts")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(dedupeKey)
      .select("event_id", "ts", "user_id", "event_type", "event_date", "value")

  /** Index partition count for the streaming MinHash guard — the
    * bucket a band-hash claim lives in is a pure function of the
    * claim, so each micro-batch reads only the index partitions its
    * docs could collide in (the CDC-lake bucket-pruning argument). */
  val GuardIndexBuckets = 32

  /** Streaming MinHash near-dup GUARD — the admission-control dedupe
    * for a document ingest stream: each arriving doc is dropped when
    * any of its LSH band buckets was already claimed by an earlier
    * doc (across ALL prior micro-batches, or by a lower doc_id inside
    * the same batch), else kept. Batch twin:
    * [[graft.operators.Dedup.minhashGuardOn]] — with docs arriving in
    * doc_id order the two agree exactly (spec-asserted), which is the
    * stream==batch contract every other streaming key carries.
    *
    * Durable state is a band-bucket claim INDEX at `indexPath`
    * (parquet, partitioned by a hash of the claim into
    * [[GuardIndexBuckets]]) — bounded: Bands longs per distinct doc
    * ever seen, never text. The foreachBatch bridge (the
    * [[cdcApplySink]] pattern) lets the guard reuse the batch
    * operator's bucket math verbatim; a GroupState form keyed by
    * (band, bucket) would need a second stateful per-doc aggregation
    * in the same query ("all bands clean"), which append-mode
    * streaming cannot express without a window.
    *
    * Ordering under at-least-once replay: kept docs are appended to
    * `outPath` BEFORE the batch's claims are appended to the index.
    * A replayed batch therefore re-emits its kept docs (duplicates,
    * the standard foreachBatch at-least-once caveat) — the reverse
    * order would let a replayed batch collide with its OWN claims and
    * silently drop every doc it had kept. Claims are appended for
    * dropped docs too, matching the batch twin's pair semantics. */
  def minhashGuardSink(docs: DataFrame, outPath: String, indexPath: String) =
    docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) guardMicroBatch(batch, outPath, indexPath)
      }

  private def guardMicroBatch(batch: DataFrame, outPath: String,
                              indexPath: String): Unit = {
    val spark = batch.sparkSession
    // claims this batch could collide on; ixb = the index partition a
    // claim lives in (pure function of the claim). PERSISTED for the
    // batch's scope: five plan branches read it below, and each would
    // otherwise recompute the shingle-explode + sketch pipeline — the
    // guard's dominant cost
    val bb = graft.operators.Dedup.minhashBandBuckets(batch)
      .withColumn("ixb",
        pmod(xxhash64(col("band"), col("bucket")), lit(GuardIndexBuckets.toLong))
          .cast("int"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try guardApply(spark, bb, batch, outPath, indexPath)
    finally { bb.unpersist(); () }
  }

  private def guardApply(spark: SparkSession,
                         bb: DataFrame, batch: DataFrame,
                         outPath: String, indexPath: String): Unit = {
    val affected = bb.select("ixb").distinct()
    // try scoped to the read (see readLakeOpt): an incompatible claim
    // index must fail at the join, not read as empty (which would
    // re-admit every previously-claimed near-duplicate)
    val existing = readLakeOpt(spark, indexPath)
      .map(_.join(broadcast(affected), Seq("ixb"), "left_semi"))
      .getOrElse(bb.limit(0))
    val collidedPrior = bb.join(existing, Seq("band", "bucket"), "left_semi")
      .select("doc_id")
    val intraBatch = bb.groupBy("band", "bucket")
      .agg(min("doc_id").as("first_doc"), count(lit(1)).as("n_claims"))
      .where(col("n_claims") > 1)
      .join(bb, Seq("band", "bucket"))
      .where(col("doc_id") > col("first_doc"))
      .select("doc_id")
    val dropped = collidedPrior.unionAll(intraBatch).distinct()
    val kept = batch.join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"))
    // output BEFORE index append — see ordering note in the scaladoc
    kept.write.mode("append").parquet(outPath)
    // anti-join against the already-read index slice: a recurring
    // bucket would otherwise re-append its claim every batch, growing
    // the index (and the per-batch semi-join read) without bound; as
    // a bonus the append is now idempotent under batch replay
    bb.select("ixb", "band", "bucket").distinct()
      .join(existing, Seq("ixb", "band", "bucket"), "left_anti")
      .write.mode("append").partitionBy("ixb").parquet(indexPath)
    ()
  }

  /** Batch twin of [[minhashGuardSink]] (key `stream_minhash_dedupe`). */
  def minhashGuardBatch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.minhashGuard(spark, dir)

  /** Maintenance compaction for the [[minhashGuardSink]] claim index
    * (r14 verdict item 7): the guard only ever APPENDS per
    * micro-batch, so at stream lifetimes each of the
    * [[GuardIndexBuckets]] partitions accretes one file per batch
    * that touched it — exactly the small-files regime
    * [[graft.operators.Sinks.compact]] exists for (directory listing
    * and per-file scan setup dominate the per-batch semi-join read
    * long before claim bytes do). Delegates to the shared planner
    * with the `ixb` partition layout preserved. Admission verdicts
    * are a pure function of the claim-row SET, which compaction
    * preserves exactly — spec-asserted byte-identical verdicts on
    * the same follow-up batch against compacted vs uncompacted
    * copies. Run from the maintenance cadence with the sink stopped
    * (compact swaps the directory out from under readers), the same
    * operating rule as every layout_compaction target. */
  def compactGuardIndex(spark: SparkSession, indexPath: String,
                        targetRowsPerFile: Long = 4000000L): Unit =
    graft.operators.Sinks.compact(spark, indexPath,
      indexPath + "_compact_tmp", targetRowsPerFile, Seq("ixb"))

  /** Streaming ANN INGEST — the serving half of the embedding
    * pipeline's daily lifecycle run continuously: each micro-batch of
    * `(vec_id, embedding)` rows is assigned + encoded against the
    * day-0 staged IVFADC artifacts
    * ([[graft.operators.Pq.writeIvfPqIndex]], which MUST pre-exist —
    * a missing index fails loudly rather than training on one
    * micro-batch) and appended into the index's cell directories.
    * Queries against the growing index stay bit-identical to a batch
    * rebuild trained on day 0 (`buildIvfPq(all, trainOn = day0)` —
    * the [[graft.operators.Pq.appendToIvfPq]] equation, spec-asserted
    * end-to-end through this sink).
    *
    * Effectively-once under at-least-once replay WITHOUT a side
    * ledger: the index itself is the claim registry. A vector's cell
    * is a pure function of its embedding and the frozen centroids, so
    * a replayed row re-lands in the SAME cell — the per-batch
    * existing-id check reads only the batch's own cell directories
    * (partition-pruned, the CDC-bucket argument) and the anti-join
    * makes the one write idempotent. Per-batch bill:
    * O(|batch|·C·d) encode + the touched cells' code files — never
    * O(index). Contract: vec_ids unique across the stream (the corpus
    * key contract); near-dup admission is the upstream
    * [[minhashGuardSink]]'s job, not the index's. */
  def annIngestSink(vectors: DataFrame, indexPath: String) =
    vectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) { annIngestMicroBatch(batch, indexPath); () }
      }

  /** The foreachBatch core (exposed for the replay spec): encode the
    * batch against the staged artifacts, drop ids the index already
    * holds (cell-pruned read), append the remainder. Returns the
    * number of appended code rows (0 for a full replay). */
  def annIngestMicroBatch(batch: DataFrame, indexPath: String): Long = {
    val spark = batch.sparkSession
    // scoped to the read: an absent/corrupt index must fail here, not
    // be mistaken for an empty one (the readLakeOpt convention)
    val index =
      try graft.operators.Pq.readIvfPqIndex(spark, indexPath)
      catch {
        case e: Exception => throw new IllegalStateException(
          s"annIngestSink needs a day-0 writeIvfPqIndex artifact at " +
            s"$indexPath — build once, then stream appends", e)
      }
    import graft.operators.Scratch
    // one encode pass, staged per call (two sinks may run concurrently):
    // its write observes the batch's cells, which prune the existing-id
    // read statically; the anti-join is staged the same way, so its
    // row count costs no job either
    val newCodes = Scratch.stageObserved(
      graft.operators.Pq.encodeAgainst(index, batch, 0), "ann_ingest_codes", "cell")
    try {
      val existingIds = index.codes
        .filter(col("cell").isInCollection(newCodes.keys.toSeq))
        .select("vec_id")
      val fresh = Scratch.stageObserved(
        newCodes.scan.join(existingIds, Seq("vec_id"), "left_anti"),
        "ann_ingest_fresh", "cell")
      try {
        if (fresh.rows > 0)
          fresh.scan.repartition(col("cell"))
            .write.mode("append").partitionBy("cell")
            .parquet(s"$indexPath/codes")
        fresh.rows
      } finally Scratch.release(fresh.path)
    } finally Scratch.release(newCodes.path)
  }

  /** ATOMIC form of [[annIngestSink]] (r18 — the streaming twin of
    * [[graft.operators.Pq.appendIvfPqIndexAtomic]]): the index lives
    * under an [[graft.operators.IndexManifest]] root and each
    * EFFECTIVE micro-batch lands as a delta-published new version +
    * one pointer flip, so concurrent queries never see part of a
    * micro-batch (the in-place sink's residual: its per-cell appends
    * are visible piecemeal during the batch's job commit). The
    * idempotence claim registry is the LIVE version's codes — a
    * replayed batch anti-joins to zero rows and publishes NOTHING, so
    * at-least-once replay neither duplicates codes nor churns
    * versions; a crash mid-publish leaves the pointer on the old
    * version and the full replay re-lands the batch wholly. Superseded
    * versions retire behind `keep` (keep ≥ 2 keeps the immediately
    * superseded version alive past any in-flight reader — the
    * retention rule). Per-batch bill: see [[annIngestMicroBatchAtomic]]. */
  def annIngestSinkAtomic(vectors: DataFrame, root: String, keep: Int = 2,
                          publishEveryRows: Long = 0L) =
    vectors.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          annIngestMicroBatchAtomic(batch, root, keep, publishEveryRows); ()
        }
      }

  /** The durable pending-delta tree of the coalesced atomic sink —
    * underscore-prefixed so no table reader under `root` ever lists
    * it; NOT part of any published version. The name is owned by
    * [[graft.operators.IndexManifest.PendingCodesDir]] so the retrain
    * fence ([[graft.operators.IndexManifest.publishRetrain]]) and this
    * sink can never drift apart. */
  private[graft] def annPendingPath(root: String): String =
    s"$root/${graft.operators.IndexManifest.PendingCodesDir}"

  /** The sink's durable RECONCILED-EPOCH marker (r19 verdict item 1):
    * the retrain epoch of the last live version this sink's claim
    * registry was verified against. Absent (first contact, or a crash
    * before the post-landing update) and mismatching (a retrain
    * published since) both read as "cannot trust cell pruning" — the
    * fail-safe direction. A torn read parses to None and degrades the
    * same way, so a plain overwrite write suffices. */
  private[graft] def annIngestMarkerPath(root: String): String =
    s"$root/_ingest_epoch"

  // one shared tiny-file protocol with the version _EPOCH markers
  // (IndexManifest.readLongFileOpt/writeLongFile) — the fence's two
  // halves can never drift on parse or fail-safe semantics
  private def annIngestMarkerEpoch(spark: SparkSession,
                                   root: String): Option[Long] =
    graft.operators.IndexManifest.readLongFileOpt(
      spark, annIngestMarkerPath(root))

  private def annIngestWriteMarker(spark: SparkSession, root: String,
                                   epoch: Long): Unit =
    graft.operators.IndexManifest.writeLongFile(
      spark, annIngestMarkerPath(root), epoch)

  /** The atomic foreachBatch core (exposed for the replay spec).
    * Returns appended code rows (0 for a full replay — no version
    * published, nothing re-staged).
    *
    * Per-batch bill, each piece of work once: open the live version
    * (its centroids and codebooks collected once, and the encode
    * assigns against those collected rows); stage the encoded batch,
    * whose write observes its row count and cells; read the live (and
    * pending) vec_ids of only those cells (a static `cell IN (…)`
    * partition filter) for the idempotence anti-join; stage the fresh
    * rows, whose write observes the count to return and the cells to
    * rewrite; write the touched cells' old ∪ new rows to the store on
    * up to one task per core, reusing the opened live codes frame;
    * flip the pointer and vacuum at file granularity. A warm commit
    * runs at most 12 Spark jobs and a full replay, which stops after
    * the second staging and publishes nothing, at most 9
    * (`IngestCommitSpec`).
    *
    * VERSION-CHURN COALESCING (r18 verdict item 5): one manifest
    * version per micro-batch means production batch rates grow the
    * version chain — and each version's O(n_files) hardlink tree —
    * unboundedly fast even behind keep-N. With `publishEveryRows > 0`
    * an effective batch lands in a durable PENDING delta tree under
    * the root instead ([[annPendingPath]], partitioned by cell like
    * the codes tree), and a version publishes only when the
    * accumulated pending rows reach the knob
    * ([[annIngestFlushPending]] — also callable directly to drain on
    * shutdown or a freshness deadline). The trade is read staleness
    * (queries serve the last PUBLISHED version; pending rows are
    * invisible until the flush) for a version/inode churn bound of
    * one version per `publishEveryRows` ingested rows.
    *
    * Crash/replay safety is unchanged: pending is durable and written
    * AFTER the idempotence anti-join (which claims against live codes
    * ∪ pending, both cell-pruned), so an at-least-once replay appends
    * nothing; a crash between a flush's pointer flip and the pending
    * clear self-heals (the next flush's anti-join drops the
    * already-published rows). Contract (shared with the in-place
    * sink): a REBALANCE/RETRAIN of the index must be fenced against
    * stream replay — stop the sink, drain the checkpoint, flush
    * pending, rebalance, restart. A replayed row re-finds its prior
    * copy because its cell is a pure function of the FROZEN
    * centroids; retraining breaks that function, and the cell-pruned
    * claim check would re-admit the row as a duplicate. */
  def annIngestMicroBatchAtomic(batch: DataFrame, root: String,
                                keep: Int = 2,
                                publishEveryRows: Long = 0L): Long = {
    val spark = batch.sparkSession
    import graft.operators.{IndexManifest, Pq, Scratch}
    // config-downgrade drain (r19 advice): rows a PRIOR coalesced run
    // (publishEveryRows > 0) parked in the pending tree would, on the
    // per-batch path, stay durable yet permanently invisible — the
    // claim registry union kept them from re-appending but nothing
    // ever published them. Flush them as one version BEFORE resolving
    // the live version this batch claims against (flushing after the
    // resolve would leave the batch's claim check reading the
    // pre-flush codes tree and re-admitting just-flushed rows on a
    // replay). The steady-state guard really is ONE existence probe —
    // calling the flush unconditionally would pay a parquet
    // schema-inference attempt + AnalysisException per micro-batch
    // (readLakeOpt's probe), ~100 ms of listing RPCs on an object
    // store for a tree that almost never exists on this path.
    val pendingP = new org.apache.hadoop.fs.Path(annPendingPath(root))
    val pendingFs = pendingP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (publishEveryRows <= 0L && pendingFs.exists(pendingP))
      annIngestFlushPending(spark, root, keep)
    val live =
      try IndexManifest.currentOrFail(spark, root)
      catch {
        case e: IllegalStateException => throw new IllegalStateException(
          s"annIngestSinkAtomic needs a day-0 manifest version at $root " +
            s"(Pq.stageIvfPqIndexVersion) — build once, then stream appends", e)
      }
    val index = Pq.readIvfPqIndex(spark, live)
    // THE REPLAY↔RETRAIN FENCE, detection half (r19 verdict item 1 —
    // previously a doc-comment contract): the cell-pruned claim check
    // below is sound only while the cell assignment function is the
    // one this sink last reconciled against — a retrain moves it, and
    // a replayed row would then probe its NEW cell while its prior
    // copy (if the retrain corpus represented the vector even one ulp
    // differently) sits in another, landing a silent duplicate. The
    // live version's retrain epoch (IndexManifest.publish bumps it on
    // every full restage) against the sink's durable reconciled-epoch
    // marker decides: equal → cell-pruned fast path; moved/absent →
    // the claim registry is the FULL live vec_id set, assignment-
    // independent by construction. The full-tree scan is a
    // vec_id-column-only read paid once per retrain (the marker
    // advances after this batch lands), not per batch.
    val liveEpoch = IndexManifest.epochOf(spark, live)
    val epochMoved = !annIngestMarkerEpoch(spark, root).contains(liveEpoch)
    // the claim registry is live ∪ pending: a replayed batch whose
    // rows already wait in pending must not re-append them. Pending
    // rows are BY CONSTRUCTION encoded under the live epoch (the
    // stamp check here + the publishRetrain fence), so their claim
    // stays cell-pruned even when the live epoch moved. One existence
    // probe, taken after the drain above, guards the read: a missing
    // tree (every batch on the per-batch path) must not pay a failed
    // parquet resolve.
    val pendingDf =
      if (pendingFs.exists(pendingP)) readLakeOpt(spark, annPendingPath(root))
      else None
    pendingDf.foreach { _ =>
      val pendingEpoch = IndexManifest.epochOf(spark, annPendingPath(root))
      require(pendingEpoch == liveEpoch,
        s"annIngestMicroBatchAtomic: pending rows at ${annPendingPath(root)} " +
          s"were encoded under retrain epoch $pendingEpoch but the live " +
          s"index is at epoch $liveEpoch — a retrain bypassed the " +
          "publishRetrain fence while rows pended. Their cells/codes are " +
          "stale; re-ingest them from source after clearing the pending " +
          "tree (if every pending vec_id is already live — the crash-" +
          "between-flush-and-clear case — clearing alone is safe).")
    }
    // the encode is staged ONCE, per call (two sinks may run
    // concurrently), and its write observes the batch's cells: the
    // claim reads prune to them statically (`cell IN (…)`)
    val newCodes = Scratch.stageObserved(
      Pq.encodeAgainst(index, batch, 0), "ann_ingest_atomic_codes", "cell")
    val appended =
      try {
        def idsInCells(df: DataFrame): DataFrame =
          df.filter(col("cell").isInCollection(newCodes.keys.toSeq)).select("vec_id")
        val liveIds =
          if (epochMoved) index.codes.select("vec_id") else idsInCells(index.codes)
        val claimed = pendingDf.map(p => liveIds.unionByName(idsInCells(p)))
          .getOrElse(liveIds)
        val fresh = newCodes.scan.join(claimed, Seq("vec_id"), "left_anti")
        // no isEmpty pre-check: it would EXECUTE the anti-join once for
        // the probe and again for the staging — both branches stage
        // first and read emptiness off the observed count (a replayed
        // batch stages an empty frame, appends nothing, publishes nothing)
        if (publishEveryRows <= 0L)
          // the publish is pinned to `live`'s epoch, which closes the
          // fence's last window (r20): a retrain that publishes between
          // this batch's encode (against `live`'s centroids/codebooks)
          // and the pointer flip would otherwise land these rows on the
          // retrained tree at stale cells — the publish fails loudly
          // instead and the stream's replay re-encodes against the
          // fresh version. `index.codes` is the live tree the claim
          // check read: the publish reuses it instead of listing the
          // version again
          IndexManifest.appendRowsAtomic(spark, root, live, index.codes,
            "codes", "cell", fresh, keep)
        else annIngestPend(spark, root, fresh, liveEpoch, keep, publishEveryRows)
      } finally Scratch.release(newCodes.path)
    // marker advance AFTER the landing: a crash in between re-runs the
    // full-tree claim on the next batch — slower, never duplicating
    if (epochMoved) annIngestWriteMarker(spark, root, liveEpoch)
    appended
  }

  /** The coalesced branch of [[annIngestMicroBatchAtomic]]: land the
    * claim-checked `fresh` rows in the durable pending tree, and flush
    * it as one version once it holds `publishEveryRows`. Returns the
    * rows landed. */
  private def annIngestPend(spark: SparkSession, root: String, fresh: DataFrame,
                            liveEpoch: Long, keep: Int,
                            publishEveryRows: Long): Long = {
    import graft.operators.{IndexManifest, Scratch}
    val staged = Scratch.stageObserved(fresh, "ann_ingest_pending_batch", "cell")
    try {
      if (staged.rows > 0L) {
        // stamp the epoch BEFORE the rows land: a crash between the
        // two leaves a stamped-but-row-less tree (reads as "no
        // pending"), while the reverse order would leave rows whose
        // absent stamp reads as epoch 0 and false-trips the fence
        // guards of the caller. Idempotent: the caller proved any
        // existing stamp already equals liveEpoch. (`_`-files are
        // invisible to the tree's parquet readers.)
        val pendingP = new org.apache.hadoop.fs.Path(annPendingPath(root))
        pendingP.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .mkdirs(pendingP)
        IndexManifest.writeEpoch(spark, annPendingPath(root), liveEpoch)
        staged.scan.repartition(col("cell"))
          .write.mode("append").partitionBy("cell")
          .parquet(annPendingPath(root))
      }
      val pendingRows = readLakeOpt(spark, annPendingPath(root))
        .map(_.count()).getOrElse(0L)
      if (pendingRows >= publishEveryRows) annIngestFlushPending(spark, root, keep)
      staged.rows
    } finally Scratch.release(staged.path)
  }

  /** Publish the coalesced sink's pending delta as ONE manifest
    * version and clear the pending tree. Returns published rows (0
    * when pending is empty or every pending row is already live — the
    * crash-between-flip-and-clear replay, which this drains without
    * publishing a duplicate version). Call on sink shutdown or a
    * freshness deadline; [[annIngestMicroBatchAtomic]] calls it
    * whenever pending reaches `publishEveryRows`. */
  def annIngestFlushPending(spark: SparkSession, root: String,
                            keep: Int = 2): Long = {
    import graft.operators.{IndexManifest, Pq}
    val pendingDf = readLakeOpt(spark, annPendingPath(root)).getOrElse {
      // a stamped-but-row-less tree (crash between the epoch stamp and
      // the first row write) holds no publishable rows but WOULD block
      // publishRetrain's pending fence forever — clear it on drain
      val p = new org.apache.hadoop.fs.Path(annPendingPath(root))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      return 0L
    }
    val live = IndexManifest.currentOrFail(spark, root)
    // fence check (r19 verdict item 1): pending rows carry the epoch
    // they were encoded under — publishing them into an index whose
    // assignment function has since moved would land them at stale
    // cells with stale codebooks (recall loss now, duplicates on the
    // next replay). publishRetrain refuses while pending exists, so
    // this fires only when a retrain bypassed the fence.
    val pendingEpoch = IndexManifest.epochOf(spark, annPendingPath(root))
    val liveEpoch = IndexManifest.epochOf(spark, live)
    require(pendingEpoch == liveEpoch,
      s"annIngestFlushPending: pending rows at ${annPendingPath(root)} were " +
        s"encoded under retrain epoch $pendingEpoch but the live index is " +
        s"at epoch $liveEpoch — re-ingest them from source instead of " +
        "flushing (see annIngestMicroBatchAtomic's fence scaladoc).")
    val liveCodes = Pq.readIvfPqIndex(spark, live).codes
    // cells unknown without a scan of pending: a broadcast semi-join
    val cells = pendingDf.select("cell").distinct()
    val dupIds = liveCodes
      .join(broadcast(cells), Seq("cell"), "left_semi")
      .select("vec_id")
    // appendRowsAtomic stages `fresh` and publishes nothing when it is
    // empty (the crash-between-flip-and-clear replay) — an isEmpty
    // pre-check here would execute the dedup anti-join twice. The
    // epoch pin holds the fence through the publish itself: a retrain
    // landing after the check above would otherwise still receive
    // these stale-encoded rows.
    val n = IndexManifest.appendRowsAtomic(spark, root, live, liveCodes,
      "codes", "cell", pendingDf.join(dupIds, Seq("vec_id"), "left_anti"), keep)
    // clear AFTER the publish: a crash before this line leaves pending
    // intact (durable, replay-safe); one after it has already published
    val p = new org.apache.hadoop.fs.Path(annPendingPath(root))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    n
  }

  /** Batch twin of [[annIngestSink]] (key `stream_ann_ingest`): the
    * same build-on-day-0 / append-the-rest lifecycle as ONE batch
    * call — shares `knn_ivf_pq_append`'s trainOn-decoupled oracle,
    * and since r18 that key runs the ATOMIC append path, so the
    * streamed lifecycle's arithmetic is gated through the same
    * manifest machinery [[annIngestSinkAtomic]] uses. */
  def annIngestBatch(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Pq.knnIvfPqAppend(spark, dir)

  /** Streaming L2 upsert sink: every micro-batch merges into the
    * partitioned lake with the SAME keep-latest semantics the batch
    * pipeline uses (Pipeline.runDs) — foreachBatch is the bridge that
    * lets a stream reuse batch merge logic verbatim. Each batch
    * unions the affected date partitions' current content with the
    * new rows, dedupes last-write-wins, and dynamic-overwrites only
    * those partitions (idempotent under micro-batch replay, which is
    * exactly Structured Streaming's at-least-once contract). */
  /** The foreachBatch merge core shared by [[upsertSink]] and
    * [[cdcApplySink]]: read ONLY the lake partitions the batch
    * touches, union the batch in, keep-latest per key, stage +
    * dynamic-overwrite those partitions (durable staging — see
    * Sinks.stageAndReplace; per-batch unique path so concurrent
    * queries sharing a lake dir never clobber each other). */
  /** The lake if it exists, None on a missing/empty path. The try
    * scopes to the READ alone (review finding r13): an
    * existing-but-incompatible lake (wrong schema, missing partition
    * column) must fail loudly at the downstream join — swallowing it
    * here would read as "empty lake" and dynamic-overwrite affected
    * partitions with only the batch's rows, silently dropping prior
    * history. */
  private def readLakeOpt(spark: SparkSession, path: String): Option[DataFrame] =
    try Some(spark.read.parquet(path))
    catch { case _: org.apache.spark.sql.AnalysisException => None }

  private def mergeMicroBatch(batch: DataFrame, l2Path: String,
                              partitionCol: String,
                              keys: Seq[org.apache.spark.sql.Column],
                              tmpPrefix: String): Unit = {
    val spark = batch.sparkSession
    val parts = batch.select(partitionCol).distinct()
    val existing = readLakeOpt(spark, l2Path)
      .map(_.join(broadcast(parts), Seq(partitionCol), "left_semi"))
      .getOrElse(batch.limit(0))
    val merged = graft.operators.Merge.keepLatest(
      existing.unionByName(batch),
      keys = keys, orderCol = col("ts"), tiebreak = col("event_id"))
    val runId = java.util.UUID.randomUUID().toString.take(8)
    graft.operators.Sinks.stageAndReplace(
      merged, s"$l2Path/../${tmpPrefix}_$runId", l2Path, Seq(partitionCol))
    ()
  }

  def upsertSink(events: DataFrame, l2Path: String) = {
    events
      .withColumn("event_date", to_date(col("ts")))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          mergeMicroBatch(batch, l2Path, "event_date",
            keys = Seq(col("user_id"), col("event_type"), col("event_date")),
            tmpPrefix = "_stream_merge_tmp")
      }
  }

  /** CDC lake bucket count — the partition a key's CURRENT row lives
    * in must be a pure function of the KEY, so each micro-batch can
    * read exactly the partitions its keys could occupy. */
  val CdcBuckets = 32

  /** THE bucket expression every key-hash-bucketed lake in this file
    * uses (CDC apply, GDPR erasure, SCD2 log + intervals) — one
    * definition, because the write path and every read/prune path
    * must compute identical buckets or a batch's "affected buckets"
    * disagrees with where the lake stored the key (review finding
    * r13: the formula had been hand-copied per site). int, not long:
    * partition-directory values read back as ints. */
  def cdcBucket(keyCol: Column, nBuckets: Int = CdcBuckets): Column =
    pmod(xxhash64(keyCol), lit(nBuckets.toLong)).cast("int")

  /** Streaming CDC apply sink: [[upsertSink]] generalized to
    * tombstone-bearing change feeds. The lake is partitioned by
    * KEY-HASH BUCKET, not by event date: the merge key is user_id
    * alone, and a date-partitioned lake would merge each date in
    * isolation — a delete arriving on day 2 could never mask the row
    * written under day 1's partition (deleted keys would resurrect in
    * the snapshot, updated keys would duplicate). With the bucket a
    * pure function of the key, every row a key has ever written lives
    * in the one partition the batch reads, so keep-latest per user is
    * globally correct while each micro-batch still touches only its
    * affected buckets.
    *
    * Tombstones are RETAINED as the key's latest lake state: dropping
    * them (what the batch [[graft.operators.Merge.applyChangelog]]
    * does over a complete feed) would let a LATE-arriving older update
    * resurrect the key on a subsequent micro-batch. Readers take the
    * snapshot view through [[readCdcSnapshot]], which filters
    * tombstones at scan time — the same result the batch operator
    * computes, replay-safe under at-least-once delivery. */
  def cdcApplySink(changes: DataFrame, l2Path: String,
                   nBuckets: Int = CdcBuckets,
                   opCol: String = "op", deleteOp: String = "D") = {
    // Fail FAST at construction if the lake already carries a
    // DIFFERENT convention, but DEFER the sidecar write to the first
    // micro-batch: a constructed-but-never-started (or misconfigured
    // restarted) sink must not restamp a lake it never wrote — the
    // sidecar is a statement about data that exists, not intent.
    requireCdcConvention(changes.sparkSession, l2Path, opCol, deleteOp)
    changes
      .withColumn("bucket", cdcBucket(col("user_id"), nBuckets))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // re-validate + stamp-if-absent HERE (not at construction):
          // another writer may have stamped the lake between sink
          // construction and the first batch
          requireCdcConvention(batch.sparkSession, l2Path, opCol, deleteOp)
          if (readCdcConvention(batch.sparkSession, l2Path).isEmpty)
            writeCdcConvention(batch.sparkSession, l2Path, opCol, deleteOp)
          mergeMicroBatch(batch, l2Path, "bucket",
            keys = Seq(col("user_id")), tmpPrefix = "_cdc_merge_tmp")
        }
      }
  }

  /** Refuse a write under a convention that disagrees with the one the
    * lake persists — a mismatched tombstone pair is never a judgment
    * call, it is delete-resurrection or live-key loss (same contract
    * as [[readCdcSnapshot]]'s explicit-pair overload). */
  private def requireCdcConvention(spark: SparkSession, l2Path: String,
                                   opCol: String, deleteOp: String): Unit =
    readCdcConvention(spark, l2Path).foreach { case (o, d) =>
      require(o == opCol && d == deleteOp,
        s"lake at $l2Path persists tombstone convention (opCol=$o, deleteOp=$d); " +
          s"refusing to apply changes under (opCol=$opCol, deleteOp=$deleteOp)")
    }

  /** The tombstone convention a [[cdcApplySink]] lake was written
    * under is PERSISTED with the lake (an underscore-prefixed sidecar
    * the parquet reader ignores): the sink retains every op verbatim
    * and only the snapshot read decides what a tombstone is, so a
    * reader guessing the pair wrong would silently resurrect every
    * deleted key. Persisting it makes the read self-describing. */
  private val CdcConventionFile = "_graft_cdc_convention"

  private def cdcConventionPath(l2Path: String) =
    new org.apache.hadoop.fs.Path(l2Path, CdcConventionFile)

  private def writeCdcConvention(spark: SparkSession, l2Path: String,
                                 opCol: String, deleteOp: String): Unit = {
    val p = cdcConventionPath(l2Path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s"opCol=$opCol\ndeleteOp=$deleteOp\n".getBytes("UTF-8"))
    finally out.close()
  }

  private def readCdcConvention(spark: SparkSession,
                                l2Path: String): Option[(String, String)] = {
    val p = cdcConventionPath(l2Path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      val kv = text.linesIterator.filter(_.contains('='))
        .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
      for (o <- kv.get("opCol"); d <- kv.get("deleteOp")) yield (o, d)
    }
  }

  /** The snapshot view over a [[cdcApplySink]] lake: latest state per
    * key minus tombstoned keys — row-for-row what the batch
    * applyChangelog yields over the full feed (delivered in event-time
    * order). The tombstone convention comes from the sidecar the sink
    * persisted — a lake with no sidecar (not written by cdcApplySink)
    * refuses the read rather than silently resurrecting deletes under
    * a guessed convention; use the explicit-pair overload for those. */
  def readCdcSnapshot(spark: SparkSession, l2Path: String): DataFrame = {
    val (opCol, deleteOp) = readCdcConvention(spark, l2Path).getOrElse(
      throw new IllegalArgumentException(
        s"no persisted CDC tombstone convention at $l2Path/$CdcConventionFile — " +
          "this lake was not written by cdcApplySink; pass (opCol, deleteOp) explicitly"))
    readCdcSnapshot(spark, l2Path, opCol, deleteOp)
  }

  /** Explicit-convention snapshot read. If the lake carries a
    * persisted convention that DISAGREES with the pair given, the
    * read fails loudly — a mismatched tombstone convention is never
    * a judgment call, it is data loss or resurrection. */
  def readCdcSnapshot(spark: SparkSession, l2Path: String,
                      opCol: String, deleteOp: String): DataFrame = {
    readCdcConvention(spark, l2Path).foreach { case (po, pd) =>
      require(po == opCol && pd == deleteOp,
        s"CDC lake at $l2Path was written with tombstone convention " +
          s"($po, $pd) but the read asked for ($opCol, $deleteOp)")
    }
    // an interrupted GDPR erasure leaves stale files in fully-erased
    // buckets — serving them would resurrect erased keys; heal first
    val pending = pendingErasurePath(l2Path)
    require(!pending.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(pending),
      s"CDC lake at $l2Path has an incomplete GDPR erasure " +
        s"($GdprPendingFile present) — run Streams.recoverPendingErasure " +
        "before reading, or the snapshot would resurrect erased keys")
    spark.read.parquet(l2Path).filter(!(col(opCol) <=> lit(deleteOp)))
  }

  /** Right-to-be-forgotten HARD delete over a [[cdcApplySink]] lake:
    * physically remove every lake row (live rows AND tombstones) for
    * the given keys, rewriting ONLY the buckets those keys hash to.
    *
    * This is the operation the key-hash-bucketed layout exists for
    * beyond merge correctness: `bucket = hash(key) mod N` means the
    * bucket set of a deletion list is computable WITHOUT scanning the
    * lake — a GDPR erasure request for k users touches at most
    * min(k, N) of the N bucket partitions, while a date-partitioned
    * lake would rewrite every partition the users ever appeared in
    * (at 100 TB: all of them). Untouched buckets keep their files
    * byte-for-byte (spec-asserted), which is what keeps erasure cheap
    * enough to run per-request rather than batched quarterly.
    *
    * A bucket left EMPTY by the delete is removed explicitly —
    * dynamic partition overwrite only replaces partitions present in
    * the staged frame, so an all-deleted bucket would otherwise keep
    * its old files and resurrect every key in it.
    *
    * Scope: erases the rows that exist now. Replayed pre-delete
    * changes (at-least-once upstream) would re-insert the key —
    * production erasure pairs this with an upstream blocklist; that
    * filter is the caller's, not the lake's.
    *
    * Crash recovery: the erasure is two mutation steps (dynamic
    * overwrite of the surviving buckets, then removal of the bucket
    * directories the delete emptied), and a crash between them would
    * leave stale files that resurrect every supposedly-erased key in
    * the emptied buckets. Before the first mutation the FULL erasure
    * plan — emptied buckets, affected buckets, and the key list — is
    * persisted to `[[GdprPendingFile]]` inside the lake; the marker is
    * removed only after every mutation completes. Every
    * [[cdcDeleteKeys]] call first heals any pending marker,
    * [[recoverPendingErasure]] does the same standalone, and
    * [[readCdcSnapshot]] refuses a lake with a pending marker rather
    * than serve resurrected rows. Because the plan is complete, the
    * heal COMPLETES the erasure (re-runs the surviving-bucket rewrite
    * from the persisted keys, then the directory deletes), not merely
    * restores consistency. Single writer assumed (the marker is
    * transiently present during a healthy erasure run).
    *
    * Returns the number of rows erased. */
  def cdcDeleteKeys(spark: SparkSession, l2Path: String, keyDf: DataFrame,
                    nBuckets: Int = CdcBuckets): Long = {
    recoverPendingErasure(spark, l2Path)
    val keys = keyDf.select(col("user_id")).distinct()
      .withColumn("bucket", cdcBucket(col("user_id"), nBuckets))
    // the deletion list is request-sized: broadcast both probes
    val affected = keys.select("bucket").distinct()
    val existing = spark.read.parquet(l2Path)
      .join(broadcast(affected), Seq("bucket"), "left_semi")
    val kept = existing.join(broadcast(keys.select("user_id")),
      Seq("user_id"), "left_anti")
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val before = existing.count()
    // buckets the delete will EMPTY, computed against the PRE-rewrite
    // lake (afterwards the stale files would make them look populated)
    // — request-bounded collects: ≤ the deletion list's bucket count
    val affectedArr = affected.collect().map(_.getInt(0))
    val keptBuckets = kept.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    val emptied = affectedArr.filterNot(keptBuckets)
    val fs = new org.apache.hadoop.fs.Path(l2Path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // persist the FULL erasure plan (emptied buckets, all affected
    // buckets, the key list) BEFORE any mutation: with only the
    // emptied-bucket list a crash before the surviving-bucket rewrite
    // would leave erased keys in the non-emptied buckets and the heal
    // could only restore consistency, not complete the erasure
    // (advice finding r13). The key list is request-sized by the
    // erasure contract, so persisting it is cheap.
    if (affectedArr.nonEmpty) {
      // keys rendered base64(UTF-8 of string form): newline-proof
      val keyStrs = keys.select(col("user_id").cast("string"))
        .collect().map(r => java.util.Base64.getEncoder
          .encodeToString(r.getString(0).getBytes("UTF-8")))
      val body = (Seq(GdprMarkerV2,
        s"emptied:${emptied.sorted.mkString(",")}",
        s"affected:${affectedArr.sorted.mkString(",")}") ++ keyStrs)
        .mkString("\n")
      // temp-then-rename: a crash mid-write must never leave a
      // TRUNCATED marker — recovery would parse a prefix of a bucket
      // number and delete a healthy bucket (review finding r13)
      val tmp = new org.apache.hadoop.fs.Path(l2Path, s"$GdprPendingFile.tmp")
      val out = fs.create(tmp, true)
      try out.write(body.getBytes("UTF-8"))
      finally out.close()
      if (!fs.rename(tmp, pendingErasurePath(l2Path))) {
        fs.delete(pendingErasurePath(l2Path), false)
        require(fs.rename(tmp, pendingErasurePath(l2Path)),
          s"could not publish the pending-erasure marker at $l2Path")
      }
    }
    // all-deleted case: an empty frame stages no schema'd parquet —
    // nothing survives in the affected buckets, so skip the rewrite
    // and let the directory deletes below do the whole erasure
    val after = if (keptBuckets.isEmpty) 0L
      else graft.operators.Sinks.stageAndReplace(
        kept, s"$l2Path/../_gdpr_delete_tmp_$runId", l2Path, Seq("bucket"))
    // drop bucket dirs the rewrite emptied (dynamic overwrite never
    // writes an empty partition, so the stale files would survive and
    // resurrect every key in them)
    emptied.foreach { b =>
      fs.delete(new org.apache.hadoop.fs.Path(l2Path, s"bucket=$b"), true)
      ()
    }
    // erasure durable — retire the marker
    if (affectedArr.nonEmpty) fs.delete(pendingErasurePath(l2Path), false)
    before - after
  }

  /** Sidecar naming the bucket directories a [[cdcDeleteKeys]] run
    * still has to remove — present only between the erasure's two
    * mutation steps (or after a crash between them). */
  val GdprPendingFile = "_gdpr_pending_deletes"

  /** First line of a complete-able pending-erasure marker: versioned
    * so a legacy emptied-buckets-only marker (pre-r14) still heals to
    * consistency, with an explicit must-re-run warning instead of a
    * silently-cleared guard. */
  val GdprMarkerV2 = "gdpr-erasure-v2"

  private def pendingErasurePath(l2Path: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(l2Path, GdprPendingFile)

  /** COMPLETE an interrupted [[cdcDeleteKeys]]: the marker persists
    * the whole erasure plan (emptied buckets, affected buckets, key
    * list), so the heal can finish every step itself — re-run the
    * surviving-bucket rewrite (anti-join of the persisted keys over
    * the non-emptied affected buckets; idempotent, so a crash after
    * the original rewrite just rewrites identical content), remove
    * the emptied bucket directories (always safe — an emptied-listed
    * bucket holds only rows of erased keys), and only then retire the
    * marker. A crash MID-HEAL leaves the marker in place and the next
    * heal re-runs from the top. Returns the number of bucket
    * directories the marker named as affected, 0 when the lake is
    * clean.
    *
    * Legacy (pre-v2) markers carry only the emptied-bucket list: for
    * those the heal restores consistency, logs an explicit
    * "erasure must be re-run" warning, and the caller re-runs
    * [[cdcDeleteKeys]] with the original key list (idempotent).
    * Called automatically at the start of every [[cdcDeleteKeys]]
    * run; exposed for explicit crash-recovery sweeps. */
  def recoverPendingErasure(spark: SparkSession, l2Path: String): Int = {
    val p = pendingErasurePath(l2Path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val in = fs.open(p)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
          .map(_.trim).filter(_.nonEmpty).toList
        finally in.close()
      def parseBuckets(s: String): List[Int] =
        s.split(",").iterator.map(_.trim).filter(_.nonEmpty).map(_.toInt).toList
      val (emptied, affected, keyStrs) = lines match {
        case GdprMarkerV2 :: e :: a :: ks
            if e.startsWith("emptied:") && a.startsWith("affected:") =>
          (parseBuckets(e.stripPrefix("emptied:")),
            parseBuckets(a.stripPrefix("affected:")),
            ks.map(k => new String(
              java.util.Base64.getDecoder.decode(k), "UTF-8")))
        case GdprMarkerV2 :: rest =>
          // a v2 header with missing/misprefixed emptied:/affected:
          // lines must NOT fall through to the legacy integer parse —
          // that path would throw an inscrutable NumberFormatException
          // on the prefix strings and crash every subsequent heal on
          // this lake (r14 advice). Fail with the real diagnosis; the
          // marker needs inspection, not a guess.
          throw new IllegalStateException(
            s"structurally malformed $GdprMarkerV2 marker at $l2Path: " +
              s"expected 'emptied:<buckets>' then 'affected:<buckets>' " +
              s"lines after the version header, got ${rest.take(2)} — " +
              "inspect/repair the marker before re-running erasure")
        case legacy => // pre-v2: bare emptied-bucket list, no key list
          System.err.println(s"WARN: GDPR marker at $l2Path is pre-v2 " +
            "(emptied buckets only): healing to CONSISTENCY, but the " +
            "erasure may be incomplete in non-emptied buckets — RE-RUN " +
            "cdcDeleteKeys with the original key list (idempotent).")
          (legacy.map(_.toInt), legacy.map(_.toInt), Nil)
      }
      // 1. re-run the surviving-bucket rewrite from the persisted plan
      val surviving = affected.filterNot(emptied.toSet)
      if (surviving.nonEmpty && keyStrs.nonEmpty) {
        import spark.implicits._
        readLakeOpt(spark, l2Path).foreach { lake =>
          val survivingDf = surviving.toDF("bucket")
          val keysDf = keyStrs.toDF("_erase_key")
          val slice = lake.join(broadcast(survivingDf), Seq("bucket"), "left_semi")
          val kept = slice.join(broadcast(keysDf),
            col("user_id").cast("string") === col("_erase_key"), "left_anti")
          val runId = java.util.UUID.randomUUID().toString.take(8)
          graft.operators.Sinks.stageAndReplace(
            kept, s"$l2Path/../_gdpr_heal_tmp_$runId", l2Path, Seq("bucket"))
          ()
        }
      }
      // 2. drop the emptied bucket directories
      emptied.foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(l2Path, s"bucket=$b"), true)
        ()
      }
      // 3. every step durable — retire the marker
      fs.delete(p, false)
      affected.size
    }
  }

  // --- streaming SCD2 history lake (key `stream_scd2`) ---

  /** Subdirectories of an [[scd2Sink]] lake: the deduped change LOG
    * (the source of truth) and the materialized SCD2 validity-interval
    * table derived from it — both partitioned by the key-hash bucket,
    * so every row a key has ever produced lives in one prunable
    * partition. */
  val Scd2LogDir = "log"
  val Scd2IntervalsDir = "scd2"

  /** Streaming changelog → SCD2 history lake: the missing streaming
    * form of the lakehouse "apply changes into SCD2" contract
    * ([[graft.operators.Merge.scd2Changelog]], key `etl_cdc_scd2`).
    *
    * SCD2 intervals are NOT incrementally maintainable from the
    * interval table alone: collapsing a same-state run is LOSSY (the
    * run's interior observations are gone), so a late change landing
    * inside an already-collapsed run could never re-split it. The sink
    * therefore maintains two layers per micro-batch, both key-hash
    * bucketed ([[CdcBuckets]] precedent — the bucket is a pure
    * function of the key, so the batch knows exactly which partitions
    * to touch without scanning the lake):
    *
    *  1. LOG — the change feed deduped by its primary key (replay of a
    *     micro-batch is a no-op: same pk, same row). Only the buckets
    *     the batch touches are read and rewritten.
    *  2. SCD2 — the affected buckets' intervals re-derived from their
    *     full (durable) log slice and dynamic-overwritten. A late or
    *     out-of-order change re-splits its key's intervals exactly as
    *     the batch operator over the complete feed would — the
    *     stream==batch spec drives splits, deletes and post-delete
    *     re-inserts across batch boundaries.
    *
    * Per-batch cost is the affected buckets' log size, not the lake
    * size — at 100 TB, bucket count scales with the corpus and a
    * batch touches min(batch keys, N) buckets. Effectively-once: the
    * log merge is idempotent under at-least-once replay and the
    * interval table is a pure function of the log. A crash between
    * the two writes leaves the affected buckets' intervals stale;
    * the checkpointed batch replays on restart and heals them, and
    * [[rematerializeScd2]] is the standalone recovery sweep (derived
    * state is always rebuildable from the log).
    *
    * The feed must carry `keyCol`, `stateCol`, `orderCol`, a unique
    * `pkCol` (rows with equal pk are the SAME change), and `opCol`
    * whose `deleteOp` value is the tombstone — defaults wire the
    * driver's events-as-changefeed mapping (Etl.cdcScd2). */
  def scd2Sink(changes: DataFrame, lakePath: String,
               keyCol: String = "user_id", stateCol: String = "event_type",
               orderCol: String = "ts", pkCol: String = "event_id",
               opCol: String = "event_type",
               deleteOp: String = graft.operators.Etl.CdcDeleteType,
               nBuckets: Int = CdcBuckets) =
    changes
      .withColumn("bucket", cdcBucket(col(keyCol), nBuckets))
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          scd2MicroBatch(batch, lakePath, keyCol, stateCol, orderCol,
            pkCol, opCol, deleteOp)
      }

  /** One micro-batch of [[scd2Sink]]: log merge (pk-deduped, affected
    * buckets only), then interval re-derivation for those buckets.
    * Package-visible so the replay-idempotence spec can drive the
    * same batch through twice without a streaming query. */
  private[graft] def scd2MicroBatch(batch: DataFrame, lakePath: String,
                                    keyCol: String, stateCol: String,
                                    orderCol: String, pkCol: String,
                                    opCol: String, deleteOp: String): Unit = {
    val spark = batch.sparkSession
    val logPath = s"$lakePath/$Scd2LogDir"
    val parts = batch.select("bucket").distinct()
    // try scoped to the read (see readLakeOpt): an incompatible log
    // must fail at the join, not silently read as empty
    val existing = readLakeOpt(spark, logPath)
      .map(_.join(broadcast(parts), Seq("bucket"), "left_semi"))
      .getOrElse(batch.limit(0))
    // equal pk = the same change (the feed's contract), so which copy
    // dropDuplicates keeps is immaterial — and a replayed batch leaves
    // the log bit-identical
    val mergedLog = existing.unionByName(batch).dropDuplicates(pkCol)
    val runId = java.util.UUID.randomUUID().toString.take(8)
    graft.operators.Sinks.stageAndReplace(mergedLog,
      s"$lakePath/_scd2_log_tmp_$runId", logPath, Seq("bucket"))
    materializeScd2(spark, lakePath, Some(parts),
      keyCol, stateCol, orderCol, pkCol, opCol, deleteOp)
  }

  /** Re-derive the SCD2 interval table from the DURABLE log — the
    * affected buckets during normal operation, every bucket when
    * called through [[rematerializeScd2]] (crash-recovery sweep). */
  private def materializeScd2(spark: SparkSession, lakePath: String,
                              affected: Option[DataFrame],
                              keyCol: String, stateCol: String,
                              orderCol: String, pkCol: String,
                              opCol: String, deleteOp: String): Unit = {
    val base = spark.read.parquet(s"$lakePath/$Scd2LogDir")
    val scoped = affected.fold(base)(p =>
      base.join(broadcast(p), Seq("bucket"), "left_semi"))
    val intervals = graft.operators.Merge.scd2Changelog(
        scoped, keys = Seq(col(keyCol)), stateCol = col(stateCol),
        orderCol = col(orderCol), tiebreak = col(pkCol),
        opCol = col(opCol), deleteOp = deleteOp)
      .select(col("bucket"), col(keyCol), col(stateCol).as("state"),
        col("eff_start"), col("eff_end"), col("is_current"))
    val runId = java.util.UUID.randomUUID().toString.take(8)
    graft.operators.Sinks.stageAndReplace(intervals,
      s"$lakePath/_scd2_iv_tmp_$runId", s"$lakePath/$Scd2IntervalsDir",
      Seq("bucket"))
    ()
  }

  /** Standalone crash-recovery sweep: rebuild EVERY bucket's intervals
    * from the log (see the crash note on [[scd2Sink]]). */
  def rematerializeScd2(spark: SparkSession, lakePath: String,
                        keyCol: String = "user_id",
                        stateCol: String = "event_type",
                        orderCol: String = "ts", pkCol: String = "event_id",
                        opCol: String = "event_type",
                        deleteOp: String = graft.operators.Etl.CdcDeleteType): Unit =
    materializeScd2(spark, lakePath, None,
      keyCol, stateCol, orderCol, pkCol, opCol, deleteOp)

  /** The interval view over an [[scd2Sink]] lake. */
  def readScd2(spark: SparkSession, lakePath: String): DataFrame =
    spark.read.parquet(s"$lakePath/$Scd2IntervalsDir").drop("bucket")

  /** Batch entry (queries key `stream_scd2`): the sink's
    * materialization transform over the complete feed — the bucket
    * column rides the derivation exactly as in the lake (it is a
    * function of the key, so the per-key windows are unchanged) and
    * the result equals the batch composition `Etl.cdcScd2`, which is
    * the stream==batch contract StreamingSpec drives through real
    * out-of-order micro-batches. */
  def scd2Batch(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("bucket", cdcBucket(col("user_id")))
    graft.operators.Merge.scd2Changelog(ev,
        keys = Seq(col("user_id")), stateCol = col("event_type"),
        orderCol = col("ts"), tiebreak = col("event_id"),
        opCol = col("event_type"),
        deleteOp = graft.operators.Etl.CdcDeleteType)
      .select(col("user_id"), col("event_type").as("state"),
        col("eff_start"), col("eff_end"), col("is_current"))
  }

  // --- stateful session assembly (flatMapGroupsWithState) ---

  case class Ev(user_id: Long, ts: Timestamp, event_id: Long)
  case class OpenSession(startUs: Long, endUs: Long, n: Long)
  case class SessionOut(user_id: Long, session_start: Timestamp,
                        session_end: Timestamp, n_events: Long)

  /** Session gap (micros) — same 6h rule as Analytics.qEventsSessionize. */
  val GapUs: Long = 6L * 3600 * 1000000

  /** Emits COMPLETED sessions: a session closes when a later event for
    * the same user arrives more than GapUs after it ends. The open
    * session rides GroupState across micro-batches; events inside a
    * batch are sorted by event time before folding, so replays and
    * batch boundaries don't change the result. */
  /** Exact microsecond epoch of a Timestamp — getTime alone floors to
    * milliseconds, which would diverge from the batch sessionizer's
    * unix_micros arithmetic on µs-precision corpora. */
  private def micros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def tsFromMicros(us: Long): Timestamp = {
    val t = new Timestamp(math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  def sessionizeFn(userId: Long, events: Iterator[Ev],
                   state: GroupState[OpenSession]): Iterator[SessionOut] = {
    val sorted = events.toSeq.sortBy(e => (micros(e.ts), e.event_id))
    var open = state.getOption
    val out = Seq.newBuilder[SessionOut]
    sorted.foreach { e =>
      val us = micros(e.ts)
      open match {
        case Some(s) if us - s.endUs <= GapUs =>
          open = Some(OpenSession(s.startUs, math.max(s.endUs, us), s.n + 1))
        case Some(s) =>
          out += SessionOut(userId,
            tsFromMicros(s.startUs), tsFromMicros(s.endUs), s.n)
          open = Some(OpenSession(us, us, 1))
        case None =>
          open = Some(OpenSession(us, us, 1))
      }
    }
    open.foreach(state.update)
    out.result().iterator
  }

  /** Wire the sessionizer over a stream (or batch Dataset — the API
    * runs in both modes with identical semantics here). */
  def sessionize(ds: Dataset[Ev]): Dataset[SessionOut] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(sessionizeFn)
  }

  /** Batch entry for the STATEFUL sessionizer (queries key
    * `stream_sessionize`): the same flatMapGroupsWithState fold the
    * stream runs, over the events table plus one closing SENTINEL per
    * user (GapUs+1µs past that user's last event) so every real
    * session completes and emits — the sentinel's own session stays
    * open and is never emitted. `session_id` is re-derived as the
    * per-user chronological rank, making the output row-for-row equal
    * to Analytics.qEventsSessionize's window form — the same DuckDB
    * oracle checks both implementations of the semantic.
    *
    * Scale shape: the sentinel aggregate and the fold shuffle once on
    * user_id each; per-group memory is one user's events (the same
    * bound the window form's sort carries). */
  def sessionizeBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"))
    val sentinels = base.groupBy(col("user_id"))
      .agg(max(col("ts")).as("mx"))
      .select(col("user_id"),
        timestamp_micros(unix_micros(col("mx")) + GapUs + 1L).as("ts"),
        lit(-1L).as("event_id"))
    val sessions = sessionize(base.unionByName(sentinels).as[Ev]).toDF()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("session_start"))
    sessions
      .withColumn("session_id", row_number().over(w).cast("bigint"))
      .withColumn("duration_sec",
        expr("(unix_micros(session_end) - unix_micros(session_start)) div 1000000"))
      .select("user_id", "session_id", "n_events",
        "session_start", "session_end", "duration_sec")
  }

  // --------------------------------------------------------------------
  // Streaming per-window top-k heavy hitters (key `stream_topk`)
  // --------------------------------------------------------------------

  /** Hitters emitted per window. */
  val TopK = 10
  /** SpaceSaving counter capacity per open window — the BOUNDED state
    * the stream holds no matter how many distinct users the window
    * sees. Counts within ±N_window/TopKCapacity of truth; any user
    * with frequency above that bound is guaranteed present. */
  val TopKCapacity = 512

  /** One SpaceSaving step (Metwally et al. 2005, the `counters`-map
    * formulation): monitored keys increment; an unmonitored key at
    * capacity TAKES OVER the minimum counter (inheriting its count as
    * the classic overestimate). Eviction ties break on the key so the
    * fold is a pure function of the arrival sequence. */
  private[graft] def spaceSavingStep(counters: Map[Long, Long], key: Long,
                                         capacity: Int): Map[Long, Long] =
    counters.get(key) match {
      case Some(n) => counters.updated(key, n + 1)
      case None if counters.size < capacity => counters.updated(key, 1L)
      case None =>
        val (mk, mn) = counters.minBy { case (k, n) => (n, k) }
        (counters - mk).updated(key, mn + 1)
    }

  /** Top-k extraction: count desc, user asc — the same total order the
    * exact batch twin ranks by. */
  private[graft] def topOf(counters: Map[Long, Long], k: Int): Seq[(Long, Long)] =
    counters.toSeq.sortBy { case (u, n) => (-n, u) }.take(k)

  case class TopkEv(user_id: Long, ts: Timestamp)
  case class TopkState(counters: Map[Long, Long])
  case class TopkOut(window_start: Timestamp, user_id: Long, n_events: Long)

  /** Streaming form: SpaceSaving summaries keyed by the 1-hour window
    * bucket, emitted when the event-time watermark closes the window.
    * State per open window is ≤ [[TopKCapacity]] counters — bounded at
    * any user cardinality, which is the entire point: the exact
    * per-(window, user) count aggregate the batch twin runs would keep
    * ONE STATE ROW PER DISTINCT USER per window, unbounded on a 100 TB
    * event firehose. Within a micro-batch the fold orders events by
    * (ts, user_id) so replays are deterministic; SpaceSaving's
    * guarantee (count error ≤ N/capacity, every true hitter above that
    * bound monitored) is the published containment contract, and with
    * per-window cardinality ≤ capacity the emission is EXACT — equal
    * to the batch twin row for row (asserted in StreamingSpec, both
    * regimes). */
  def topkStream(events: Dataset[TopkEv], k: Int = TopK,
                 capacity: Int = TopKCapacity): Dataset[TopkOut] = {
    import events.sparkSession.implicits._
    val hourUs = 3600L * 1000000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(e => (micros(e.ts) / hourUs) * hourUs)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (winUs: Long, evs: Iterator[TopkEv], state: GroupState[TopkState]) =>
          if (state.hasTimedOut) {
            val out = topOf(state.get.counters, k).map { case (u, n) =>
              TopkOut(tsFromMicros(winUs), u, n)
            }
            state.remove()
            out.iterator
          } else {
            val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.user_id))
            val c0 = state.getOption.map(_.counters).getOrElse(Map.empty[Long, Long])
            state.update(TopkState(
              sorted.foldLeft(c0)((c, e) => spaceSavingStep(c, e.user_id, capacity))))
            // fire once the watermark passes the window end
            // (GroupState timeout timestamps are MILLISECONDS)
            state.setTimeoutTimestamp((winUs + hourUs) / 1000L)
            Iterator.empty
          }
      }
  }

  /** Batch twin (queries key `stream_topk`): EXACT per-window top-k
    * users — one keyed count aggregate (map-side partials collapse the
    * event stream), then a rank window PARTITIONED BY window_start so
    * the sort is per-window, never global. This is the semantics the
    * stream approximates with bounded state, and what the oracle
    * hash-checks. */
  def topkBatch(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("window_start"))
      .orderBy(col("n_events").desc, col("user_id"))
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("window_start"), col("user_id"), col("n_events"))
      .withColumn("rk", row_number().over(w).cast("int"))
      .filter(col("rk") <= TopK)
      .select(col("window_start"), col("user_id"), col("n_events"), col("rk"))
  }

  val topkOracleSql: String =
    s"""SELECT window_start, user_id, n_events, CAST(rk AS INTEGER) AS rk FROM (
       |  SELECT window_start, user_id, n_events,
       |    ROW_NUMBER() OVER (PARTITION BY window_start
       |                       ORDER BY n_events DESC, user_id) AS rk
       |  FROM (
       |    SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       |      user_id, COUNT(*) AS n_events
       |    FROM events GROUP BY 1, 2) c) t
       |WHERE rk <= $TopK""".stripMargin

  // --------------------------------------------------------------------
  // Streaming per-user EWMA anomaly detection (key `stream_anomaly`)
  // --------------------------------------------------------------------

  /** EWMA smoothing factor — 1/4, an exact binary fraction, so the
    * fold's constants introduce no cross-engine literal rounding. */
  val AnomAlpha = 0.25
  /** Flag threshold: d² > T²·(s2+eps) — 3 sigma. */
  val AnomT2 = 9.0
  val AnomEps = 1e-6
  /** Minimum history before flagging (a cold-start guard). */
  val AnomMinN = 3L

  /** One EWMA-variance step (West 1979 exponential Welford):
    * d = v − m; flag BEFORE updating; m += α·d; s2 = (1−α)·(s2+α·d²).
    * The shared JVM twin of the column/SQL folds. */
  private[graft] def anomStep(m: Double, s2: Double, n: Long, anom: Long,
                              v: Double): (Double, Double, Long, Long) =
    if (n == 0L) (v, 0.0, 1L, anom)
    else {
      val d = v - m
      val flagged = if (n >= AnomMinN && d * d > AnomT2 * (s2 + AnomEps)) anom + 1 else anom
      (m + AnomAlpha * d, (1.0 - AnomAlpha) * (s2 + AnomAlpha * d * d), n + 1, flagged)
    }

  case class AnomEv(user_id: Long, ts: Timestamp, event_id: Long, value: Double)
  case class AnomState(m: Double, s2: Double, n: Long, anom: Long)
  case class AnomOut(user_id: Long, n_events: Long, n_anomalies: Long,
                     ewma: Double, ewvar: Double)

  /** Streaming form: per-user EWMA mean/variance in GroupState (4
    * numbers per user — fixed-size state at any event rate, where a
    * per-user history buffer would be unbounded), events folded in
    * (ts, event_id) order within each micro-batch, the current
    * per-user summary re-emitted every batch (Update-mode semantics).
    * In-order delivery across batches ⇒ identical to the batch fold
    * (the spec's contract); late data folds at arrival position — the
    * documented at-arrival semantics of streaming EWMA. */
  def anomalyStream(events: Dataset[AnomEv]): Dataset[AnomOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[AnomEv], state: GroupState[AnomState]) =>
          val st0 = state.getOption.getOrElse(AnomState(0.0, 0.0, 0L, 0L))
          val sorted = evs.toSeq.sortBy(e => (micros(e.ts), e.event_id))
          val st = sorted.foldLeft(st0) { (s, e) =>
            val (m, s2, n, a) = anomStep(s.m, s.s2, s.n, s.anom, e.value)
            AnomState(m, s2, n, a)
          }
          state.update(st)
          Iterator.single(AnomOut(uid, st.n, st.anom, st.m, st.s2))
      }
  }

  /** Batch twin (queries key `stream_anomaly`): ONE keyed aggregate —
    * per user, the events collect into a (ts, event_id)-sorted array
    * and the identical fold runs as a codegen'd `aggregate` column
    * with explicit struct zero. Per-user sequences are bounded by a
    * user's own activity (the corpus/users ratio), the same
    * cardinality contract as the stateful sessionizer; the wide
    * shuffle carries (ts, event_id, value) triples once. */
  def anomalyBatch(spark: SparkSession, dir: String): DataFrame = {
    // null values carry no measurement to fold: dropped explicitly so
    // all three forms agree — collect_list would skip them silently
    // here while the sorted form's non-nullable decode would crash
    val ev = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val seqCol = sort_array(collect_list(struct(col("ts"), col("event_id"), col("value"))))
    val zero = struct(lit(0.0).as("m"), lit(0.0).as("s2"),
      lit(0L).as("n"), lit(0L).as("anom"))
    def step(s: Column, e: Column): Column = {
      val v = e.getField("value")
      val (m, s2, n, a) = (s.getField("m"), s.getField("s2"),
        s.getField("n"), s.getField("anom"))
      val d = v - m
      val first = n === 0L
      struct(
        when(first, v).otherwise(m + lit(AnomAlpha) * d).as("m"),
        when(first, lit(0.0))
          .otherwise(lit(1.0 - AnomAlpha) * (s2 + lit(AnomAlpha) * d * d)).as("s2"),
        (n + 1L).as("n"),
        when(!first && n >= AnomMinN && d * d > lit(AnomT2) * (s2 + lit(AnomEps)),
          a + 1L).otherwise(a).as("anom"))
    }
    ev.groupBy(col("user_id"))
      .agg(aggregate(seqCol, zero, step).as("st"))
      .select(col("user_id"),
        col("st.n").as("n_events"), col("st.anom").as("n_anomalies"),
        col("st.m").as("ewma"), col("st.s2").as("ewvar"))
  }

  /** The SCALE form of the batch twin: secondary sort + streamed fold.
    * [[anomalyBatch]]'s collect_list materializes each user's full
    * (ts, event_id, value) array in the aggregation buffer — measured
    * as the 1000× spill point (155.9 s at 100M events). This form
    * hash-partitions on user, sorts (user, ts, event_id) WITHIN each
    * partition (the repartitionAndSortWithinPartitions recipe in the
    * Dataset world — one exchange, same as the aggregate pays), and
    * folds each user's contiguous run with the shared [[anomStep]] in
    * constant memory per user. Identical rows to the aggregate form
    * (the gate's oracle checks this one — it is the driver key). */
  def anomalyBatchSorted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .filter(col("value").isNotNull) // all three forms drop null measurements
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
      .as[(Long, Timestamp, Long, Double)]
      .mapPartitions { it =>
        new Iterator[AnomOut] {
          private var pending: Option[AnomOut] = None
          private var cur = Option.empty[(Long, AnomState)]
          private def close(u: Long, s: AnomState): AnomOut =
            AnomOut(u, s.n, s.anom, s.m, s.s2)
          private def advance(): Unit = {
            while (pending.isEmpty && it.hasNext) {
              val (u, _, _, v) = it.next()
              cur match {
                case Some((pu, st)) if pu == u =>
                  val r = anomStep(st.m, st.s2, st.n, st.anom, v)
                  cur = Some((u, AnomState(r._1, r._2, r._3, r._4)))
                case Some((pu, st)) =>
                  pending = Some(close(pu, st))
                  val r = anomStep(0.0, 0.0, 0L, 0L, v)
                  cur = Some((u, AnomState(r._1, r._2, r._3, r._4)))
                case None =>
                  val r = anomStep(0.0, 0.0, 0L, 0L, v)
                  cur = Some((u, AnomState(r._1, r._2, r._3, r._4)))
              }
            }
            if (pending.isEmpty && !it.hasNext) {
              cur.foreach { case (u, st) => pending = Some(close(u, st)) }
              cur = None
            }
          }
          def hasNext: Boolean = { if (pending.isEmpty) advance(); pending.nonEmpty }
          def next(): AnomOut = {
            if (pending.isEmpty) advance()
            val out = pending.get; pending = None; out
          }
        }
      }
      .toDF("user_id", "n_events", "n_anomalies", "ewma", "ewvar")
  }

  /** Oracle: the identical fold in DuckDB. 2-arg `list_reduce` seeds
    * from the first element, so the zero state is PREPENDED and every
    * event is lifted into the state's shape. The state is a DOUBLE[4]
    * `[m, s2, n, anom]` (counters as integer-valued doubles, exact to
    * 2^53), NOT a struct: DuckDB 1.0's lambda evaluates struct_pack
    * fields into a buffer that ALIASES the accumulator, so a field
    * expression can read another field's already-written value —
    * probed directly: fold `b := s.b + s.a` over 2 steps reads old
    * `a` in step 1 and the NEW `a` in step 2. List construction
    * evaluates all elements from the incoming frame and doesn't
    * alias. */
  val anomalyOracleSql: String =
    s"""SELECT user_id,
       |  CAST(st[3] AS BIGINT) AS n_events, CAST(st[4] AS BIGINT) AS n_anomalies,
       |  st[1] AS ewma, st[2] AS ewvar
       |FROM (
       |  SELECT user_id,
       |    list_reduce(
       |      list_prepend([CAST(0.0 AS DOUBLE), 0.0, 0.0, 0.0],
       |        list_transform(list(value ORDER BY ts, event_id),
       |          x -> [x, CAST(0.0 AS DOUBLE), 0.0, 0.0])),
       |      (s, x) -> [
       |        CASE WHEN s[3] = 0 THEN x[1] ELSE s[1] + $AnomAlpha * (x[1] - s[1]) END,
       |        CASE WHEN s[3] = 0 THEN CAST(0.0 AS DOUBLE)
       |             ELSE ${1.0 - AnomAlpha} * (s[2] + $AnomAlpha * (x[1] - s[1]) * (x[1] - s[1])) END,
       |        s[3] + 1,
       |        CASE WHEN s[3] >= $AnomMinN
       |              AND (x[1] - s[1]) * (x[1] - s[1]) > $AnomT2 * (s[2] + $AnomEps)
       |             THEN s[4] + 1 ELSE s[4] END]) AS st
       |  FROM events WHERE value IS NOT NULL GROUP BY user_id) t""".stripMargin

  // --------------------------------------------------------------------
  // Streaming per-window histogram quantiles (key `stream_hist_quantiles`)
  // --------------------------------------------------------------------

  /** Fixed value grid for the streaming quantile state: [0, Bins·W)
    * with out-of-range values clamped into the edge bins. A stream
    * cannot derive (min, max) before aggregating the way the batch
    * sketch (`agg_hist_quantiles`) does — the grid must be DECLARED,
    * the standard latency/precision trade of streaming histograms. */
  val HqBins = 128
  val HqWidth = 8.0
  /** Quantile targets as exact rationals (type-1 ceil ranks, the
    * Quantiles-tier convention). */
  val HqTargets: Seq[(String, Long, Long)] =
    Seq(("p50", 1L, 2L), ("p95", 19L, 20L), ("p99", 99L, 100L))

  /** Grid assignment: clamped `floor(v / W)`. One IEEE division +
    * floor — engine-identical for any double. */
  private[graft] def hqBin(v: Double): Int = {
    val b = math.floor(v / HqWidth)
    if (b < 0) 0 else if (b >= HqBins) HqBins - 1 else b.toInt
  }

  /** Rank→first-covering-bucket selection over a closed histogram:
    * for each target, k = ceil(q·n) exactly, then the lowest bin
    * whose running count reaches k. */
  private[graft] def hqSelect(counts: Array[Long], n: Long): Seq[(String, Long, Int)] =
    HqTargets.map { case (name, num, den) =>
      val k = (n * num + den - 1) / den
      var cum = 0L; var b = 0; var found = -1
      while (b < HqBins) {
        cum += counts(b)
        if (found < 0 && cum >= k) found = b
        b += 1
      }
      (name, k, found)
    }

  case class HqEv(ts: Timestamp, value: Double)
  case class HqState(counts: Array[Long], n: Long)
  case class HqOut(window_start: Timestamp, quantile: String, rank_k: Long,
                   n_events: Long, value_lo: Double, value_hi: Double)

  /** Streaming per-hour-window quantile intervals: a [[HqBins]]-cell
    * count array per OPEN window in GroupState (fixed `Bins × 8 B`
    * state at any event rate — the exact-order-statistic alternative
    * keeps every value), quantiles resolved by [[hqSelect]] when the
    * event-time watermark closes the window. Mergeable across
    * micro-batches by construction (elementwise add), so arrival
    * order never changes the emission — stream == batch twin exactly,
    * not approximately, because the GRID is fixed and counts are
    * exact; the approximation lives in the declared interval width,
    * identically in both forms. */
  def histQuantilesStream(events: Dataset[HqEv]): Dataset[HqOut] = {
    import events.sparkSession.implicits._
    val hourUs = 3600L * 1000000L
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(e => (micros(e.ts) / hourUs) * hourUs)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (winUs: Long, evs: Iterator[HqEv], state: GroupState[HqState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            val out = hqSelect(st.counts, st.n).map { case (q, k, b) =>
              HqOut(tsFromMicros(winUs), q, k, st.n,
                b * HqWidth, (b + 1) * HqWidth)
            }
            state.remove()
            out.iterator
          } else {
            val st = state.getOption.getOrElse(HqState(new Array[Long](HqBins), 0L))
            var n = st.n
            val counts = st.counts
            evs.foreach { e => counts(hqBin(e.value)) += 1; n += 1 }
            state.update(HqState(counts, n))
            state.setTimeoutTimestamp((winUs + hourUs) / 1000L)
            Iterator.empty
          }
      }
  }

  /** Batch twin (queries key `stream_hist_quantiles`): the same fixed
    * grid as one keyed histogram aggregate — the shuffle carries
    * ≤ Bins rows per window, never events — then per-window running
    * counts (window-partitioned, bounded ≤ Bins rows each) and the
    * rank→bucket join against the 3-row broadcast target table. */
  def histQuantilesBatch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val hist = Tables.events(spark, dir)
      .filter(col("value").isNotNull)
      .select(window(col("ts"), "1 hour").getField("start").as("window_start"),
        least(lit(HqBins - 1),
          greatest(lit(0), floor(col("value") / HqWidth).cast("int"))).as("b"))
      .groupBy(col("window_start"), col("b"))
      .agg(count(lit(1)).as("c"))
    val perWin = Window.partitionBy(col("window_start"))
    val ch = hist
      .withColumn("cum", sum(col("c")).over(perWin.orderBy(col("b"))))
      .withColumn("n_events", sum(col("c")).over(perWin))
    val targets = HqTargets.toDF("quantile", "num", "den")
    ch.join(broadcast(targets),
        col("cum") >= expr("(n_events * num + den - 1) div den") &&
        col("cum") - col("c") < expr("(n_events * num + den - 1) div den"))
      .select(col("window_start"), col("quantile"),
        expr("(n_events * num + den - 1) div den").as("rank_k"),
        col("n_events"),
        (col("b") * HqWidth).as("value_lo"),
        ((col("b") + 1) * HqWidth).as("value_hi"))
  }

  val histQuantilesOracleSql: String = {
    val targetRows = HqTargets.map { case (q, num, den) => s"('$q', $num, $den)" }
      .mkString(", ")
    s"""WITH e AS (
       |  SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start,
       |    LEAST(${HqBins - 1}, GREATEST(0,
       |      CAST(FLOOR(value / $HqWidth) AS INTEGER))) AS b
       |  FROM events WHERE value IS NOT NULL
       |), h AS (
       |  SELECT window_start, b, COUNT(*) AS c FROM e GROUP BY 1, 2
       |), ch AS (
       |  SELECT window_start, b, c,
       |    CAST(SUM(c) OVER (PARTITION BY window_start ORDER BY b) AS BIGINT) AS cum,
       |    CAST(SUM(c) OVER (PARTITION BY window_start) AS BIGINT) AS n_events
       |  FROM h
       |), t(quantile, num, den) AS (VALUES $targetRows)
       |SELECT ch.window_start, t.quantile,
       |  CAST((ch.n_events * t.num + t.den - 1) // t.den AS BIGINT) AS rank_k,
       |  ch.n_events,
       |  ch.b * CAST($HqWidth AS DOUBLE) AS value_lo,
       |  (ch.b + 1) * CAST($HqWidth AS DOUBLE) AS value_hi
       |FROM ch JOIN t
       |  ON ch.cum >= (ch.n_events * t.num + t.den - 1) // t.den
       | AND ch.cum - ch.c < (ch.n_events * t.num + t.den - 1) // t.den""".stripMargin
  }
}
