package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.operators.Pipeline

/** `etl_daily`: the reference's per-`ds` DAG through `Pipeline.runDs`
  * (normalize → DQ gate → staged write → keep-latest L2 merge) over a
  * seeded events lake split into several parquet files, so every scan
  * runs as several tasks. A backfill pass writes each day's L2
  * partition for the first time; rerun passes then merge each day
  * against its existing L2 partition until the run's time is up. */
object EtlDaily {
  val Days = 2
  val RowsPerDay = 25000

  def run(c: Ctx, sessionS: Double): Unit = {
    val r = c.report
    val spark = c.spark
    import spark.implicits._
    val files = 2 * c.cpus

    // set-up: generate and write the input lake, several times
    val rounds = (0 until Main.SetupRounds).map { k =>
      val t0 = System.nanoTime()
      val es = Inputs.events(c.seed, Days, RowsPerDay)
      val dir = c.work.resolve(s"input-$k")
      spark.sparkContext
        .parallelize(es.map(e => (e.eventId, e.tsMicros, e.userId, e.eventType, e.value, e.props)), files)
        .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .write.parquet(dir.resolve("events.parquet").toString)
      ((System.nanoTime() - t0) / 1e9, es, dir)
    }
    val hashes = rounds.map(x => Inputs.eventsHash(x._2)).distinct
    c.check("input generation is deterministic", hashes.length == 1, hashes.mkString(","))
    r.info("input_hash") = hashes.head
    val events = rounds.head._2
    val src = rounds.head._3.toString
    rounds.tail.foreach(x => Files2.deleteTree(x._3))
    val inputBytes = Files2.bytes(rounds.head._3)
    val expected = Inputs.expectedL2Rows(events)
    val days = (0 until Days).map(Inputs.dsOf)

    // warm-up on a throwaway lake: a backfill and a rerun pass over
    // every day (generated code is specialised to the ds literal, so
    // each day compiles its own plans once)
    val t1 = System.nanoTime()
    val warmLake = c.work.resolve("lake-warmup")
    for (_ <- 0 until 2; ds <- days) Pipeline.runDs(spark, src, warmLake.toString, ds)
    Files2.deleteTree(warmLake)
    val warmupS = (System.nanoTime() - t1) / 1e9
    val inputS = Stats.median(rounds.map(_._1))
    r.metric("input_setup_s", inputS, "s", rounds.length)
    r.metric("warmup_s", warmupS, "s", 1)

    val lake = c.work.resolve("lake").toString
    val backfill = mutable.ArrayBuffer.empty[Double]
    val rerun = mutable.ArrayBuffer.empty[Double]
    val summaries = mutable.ArrayBuffer.empty[Pipeline.DsRunSummary]
    def runOne(ds: String, samples: mutable.ArrayBuffer[Double]): Unit =
      c.op("etl.ds_run", samples, tracedAlways = false) {
        c.span("Pipeline.runDs")(Pipeline.runDs(spark, src, lake, ds))
      }.foreach { s =>
        summaries += s
        c.checkEach("each run leaves the expected L2 row count for its ds", s.nL2 == expected(ds),
          s"$ds: ${s.nL2} != ${expected(ds)}")
      }
    def l2Hash(): String = c.frameHash(spark.read.parquet(s"$lake/l2"))

    var deadline = System.nanoTime() + c.seconds * 1000000000L
    days.foreach(ds => runOne(ds, backfill))
    val t2 = System.nanoTime()
    val afterBackfill = l2Hash()
    deadline += System.nanoTime() - t2 // the hash is a check, not measured work
    var i = 0
    while (c.hasTime(deadline, rerun)) { runOne(days(i % Days), rerun); i += 1 }

    // output checks
    c.check("a rerun leaves L2's content hash unchanged", l2Hash() == afterBackfill)
    val l2Counts = spark.read.parquet(s"$lake/l2").groupBy(col("event_date").cast("string"))
      .count().collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    c.check("L2 row count per ds equals the distinct (user_id, event_type) count",
      days.forall(ds => l2Counts.get(ds).contains(expected(ds))),
      s"got $l2Counts, expected $expected")

    val lakePath = java.nio.file.Paths.get(lake)
    val storedBytes = Files2.bytes(lakePath.resolve("staging")) + Files2.bytes(lakePath.resolve("l2"))
    val setupS = sessionS + inputS + warmupS
    r.metric("setup_s", setupS, "s", rounds.length)
    r.timing("ds_run", (backfill ++ rerun).toSeq)
    val backfillP50 = r.timing("ds_backfill", backfill.toSeq)
    val rerunP50 = r.timing("ds_rerun", rerun.toSeq)
    r.metric("lake_bytes_per_input_byte", storedBytes.toDouble / inputBytes, "ratio", 1)
    r.primaryOp = "etl.ds_run"
    r.e2e("setup_s") = (setupS, "s")
    r.e2e("op_p50_s") = (backfillP50, "s")
    r.e2e("op2_p50_s") = (rerunP50, "s")
    r.e2e("bytes_per_input_byte") = (storedBytes.toDouble / inputBytes, "ratio")

    if (c.tracer.enabled) {
      val ledger = Pipeline.readRunLedger(spark, lake)
        .groupBy("stage").agg(avg(col("elapsed_ms")).as("ms")).collect()
        .map(x => x.getString(0) -> x.getDouble(1) / 1e3).toMap
      r.layer("pipeline.normalize_dq_gate_s") = (ledger.getOrElse("normalize_dq_gate", 0.0), "s")
      r.layer("pipeline.staging_write_s") = (ledger.getOrElse("staging_write", 0.0), "s")
      r.layer("pipeline.l2_merge_s") = (ledger.getOrElse("l2_merge", 0.0), "s")
      r.layer("pipeline.rows_normalized") =
        (summaries.map(_.nNormalized).sum.toDouble / math.max(1, summaries.length), "count")
      r.layer("pipeline.rows_l2") =
        (summaries.map(_.nL2).sum.toDouble / math.max(1, summaries.length), "count")
      r.layer("lake.files") = (Files2.count(lakePath).toDouble, "count")
      r.layer("lake.bytes") = (Files2.bytes(lakePath).toDouble, "B")
    }
  }
}
