package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.operators.{IndexManifest, Pq}
import graft.streaming.Streams

/** `ann_serve_ingest`: ANN serving against an IVF-PQ index that is
  * built and published (manifest version 1) before timing starts.
  * The first 40 % of the run issues single-id `Pq.queryIvfPq` calls
  * against that version (read-only phase). The rest repeats a
  * cycle of one `Streams.annIngestMicroBatchAtomic` commit of fresh
  * vectors followed by a query that resolves the live version
  * again (mixed phase), so a publish change that slows readers shows
  * in the mixed latency. */
object AnnServeIngest {
  val BaseVectors = 4000
  val Dim = 64
  val Clusters = 200
  val BatchSize = 200
  val QueriesPerCycle = 1
  val K = 10

  private def vecDF(c: Ctx, vs: Seq[Inputs.Vec], slices: Int): DataFrame = {
    val spark = c.spark
    import spark.implicits._
    spark.sparkContext.parallelize(vs.map(v => (v.vecId, v.embedding.toSeq, v.label)), slices)
      .toDF("vec_id", "embedding", "label")
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  def run(c: Ctx, sessionS: Double): Unit = {
    val r = c.report
    val spark = c.spark
    val files = 2 * c.cpus
    val vecDir = c.work.resolve("vectors")

    val rounds = (0 until Main.SetupRounds).map { k =>
      val t0 = System.nanoTime()
      val base = Inputs.vectors(c.seed, 0L, BaseVectors, Dim, Clusters)
      val dir = c.work.resolve(s"input-$k")
      vecDF(c, base, files).write.parquet(dir.resolve("base").toString)
      ((System.nanoTime() - t0) / 1e9, base, dir)
    }
    val hashes = rounds.map(x => Inputs.vecsHash(x._2)).distinct
    c.check("input generation is deterministic", hashes.length == 1, hashes.mkString(","))
    r.info("input_hash") = hashes.head
    val base = rounds.head._2
    Files.createDirectories(vecDir)
    Files.move(rounds.head._3.resolve("base"), vecDir.resolve("base"))
    rounds.foreach(x => Files2.deleteTree(x._3))
    val inputS = Stats.median(rounds.map(_._1))
    def vectors(): DataFrame =
      spark.read.option("recursiveFileLookup", "true").parquet(vecDir.toString)

    // the index build is set-up: timed on its own, never in a query
    val root = c.work.resolve("index").toString
    val t1 = System.nanoTime()
    c.span("pq.build") {
      val idx = c.span("Pq.buildIvfPq")(Pq.buildIvfPq(vectors()))
      c.span("Pq.stageIvfPqIndexVersion")(Pq.stageIvfPqIndexVersion(idx, root))
    }
    val buildS = (System.nanoTime() - t1) / 1e9

    // warm-up: a query and a commit against a copy of the index
    val t2 = System.nanoTime()
    val rnd = new java.util.SplittableRandom(c.seed ^ 0x5eed0010L)
    c.tracer.untraced {
      val warmRoot = c.work.resolve("index-warmup")
      copyTree(java.nio.file.Paths.get(root), warmRoot)
      val idx = Pq.readIvfPqIndex(spark, IndexManifest.currentOrFail(spark, warmRoot.toString))
      Pq.queryIvfPq(idx, vectors(), Seq(rnd.nextLong(BaseVectors)), K).collect()
      val warmBatch = Inputs.vectors(c.seed, 10L * BaseVectors, BatchSize, Dim, Clusters, stream = 999)
      Streams.annIngestMicroBatchAtomic(vecDF(c, warmBatch, 1).select("vec_id", "embedding"),
        warmRoot.toString)
      Files2.deleteTree(warmRoot)
    }
    val warmupS = (System.nanoTime() - t2) / 1e9
    r.metric("input_setup_s", inputS, "s", rounds.length)
    r.metric("index_build_s", buildS, "s", 1)
    r.metric("warmup_s", warmupS, "s", 1)

    // read-only phase
    val readOnly = mutable.ArrayBuffer.empty[Double]
    val answers = mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    val baseVecs = vectors()
    val live1 = IndexManifest.currentOrFail(spark, root)
    val index1 = Pq.readIvfPqIndex(spark, live1)
    val window = c.seconds * 1000000000L
    val readDeadline = System.nanoTime() + window * 2 / 5
    while (c.hasTime(readDeadline, readOnly)) {
      val q = rnd.nextLong(BaseVectors)
      c.op("ann.query", readOnly, tracedAlways = false) {
        c.span("Pq.queryIvfPq")(Pq.queryIvfPq(index1, baseVecs, Seq(q), K).collect())
      }.foreach(rows => answers += ((q, rows.toSeq.sortBy(_.getInt(2)).map(_.getLong(1)))))
    }

    // mixed phase: commit, then queries that each re-open the live version
    val commits = mutable.ArrayBuffer.empty[Double]
    val mixed = mutable.ArrayBuffer.empty[Double]
    val opens = mutable.ArrayBuffer.empty[Double]
    val committedIds = mutable.ArrayBuffer.empty[Long]
    var appendedRows = 0L
    var firstBatch: Option[DataFrame] = None
    val cycles = mutable.ArrayBuffer.empty[Double]
    val mixedDeadline = System.nanoTime() + window * 3 / 5
    var j = 0
    while (c.hasTime(mixedDeadline, cycles)) {
      val cycleStart = System.nanoTime()
      val firstId = BaseVectors.toLong + j.toLong * BatchSize
      val batch = Inputs.vectors(c.seed, firstId, BatchSize, Dim, Clusters, stream = j + 1)
      val batchDF = vecDF(c, batch, 1)
      val toIngest = batchDF.select("vec_id", "embedding")
      c.op("ann.commit", commits) {
        c.span("Streams.annIngestMicroBatchAtomic")(Streams.annIngestMicroBatchAtomic(toIngest, root))
      }.foreach { n =>
        appendedRows += n
        c.checkEach("each commit appends its whole batch", n == BatchSize, s"commit $j: $n != $BatchSize")
        committedIds ++= batch.map(_.vecId)
        if (firstBatch.isEmpty) firstBatch = Some(toIngest)
        // the query side's float corpus learns the batch; bookkeeping, not timed
        batchDF.write.parquet(vecDir.resolve(s"batch-$j").toString)
      }
      val all = vectors()
      val pool = BaseVectors + committedIds.length
      (0 until QueriesPerCycle).foreach { _ =>
        val q = { val x = rnd.nextLong(pool); if (x < BaseVectors) x else committedIds((x - BaseVectors).toInt) }
        c.op("ann.query_mixed", mixed) {
          val t = System.nanoTime()
          val idx = c.span("pq.open")(
            Pq.readIvfPqIndex(spark, IndexManifest.currentOrFail(spark, root)))
          opens += (System.nanoTime() - t) / 1e9
          c.span("Pq.queryIvfPq")(Pq.queryIvfPq(idx, all, Seq(q), K).collect())
        }
      }
      cycles += (System.nanoTime() - cycleStart) / 1e9
      j += 1
    }

    // replay: an already-committed batch appends nothing
    val replayRows = firstBatch.map(b => c.op("ann.replay", mutable.ArrayBuffer.empty[Double]) {
      c.span("Streams.annIngestMicroBatchAtomic.replay")(Streams.annIngestMicroBatchAtomic(b, root))
    }.getOrElse(-1L)).getOrElse(-1L)
    c.check("a replayed batch appends 0 rows", replayRows == 0L, s"appended $replayRows")

    // the final live version holds base + committed vectors, each once
    val liveIds = Pq.readIvfPqIndex(spark, IndexManifest.currentOrFail(spark, root))
      .codes.select("vec_id").collect().map(_.getLong(0))
    val want = (0L until BaseVectors.toLong) ++ committedIds
    c.check("the live version holds base plus committed vectors, each vec_id once",
      liveIds.length == want.length && liveIds.sorted.sameElements(want.sorted),
      s"${liveIds.length} live rows, ${liveIds.distinct.length} distinct, ${want.length} expected")

    // recall of the read-only answers against exact top-10 over the base
    val byId = base.map(v => v.vecId -> v).toMap
    val recalls = answers.toSeq.map { case (q, got) =>
      Inputs.exactTopK(byId(q), base, K).toSet.intersect(got.toSet).size.toDouble / K
    }
    val recall = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.length

    val rootPath = java.nio.file.Paths.get(root)
    val indexBytes = Files2.bytes(rootPath)
    val liveN = liveIds.length
    val setupS = sessionS + inputS + buildS + warmupS
    r.metric("setup_s", setupS, "s", rounds.length)
    val p50 = r.timing("ann_query", readOnly.toSeq)
    r.timing("ann_query_mixed", mixed.toSeq)
    val commitP50 = r.timing("ann_commit", commits.toSeq)
    r.metric("ann_recall_at_10", recall, "ratio", recalls.length)
    r.metric("index_bytes_per_vector", indexBytes.toDouble / liveN, "B", 1)
    val rawBytes = liveN.toDouble * Dim * 4
    r.primaryOp = "ann.query"
    r.e2e("setup_s") = (setupS, "s")
    r.e2e("op_p50_s") = (p50, "s")
    r.e2e("op2_p50_s") = (commitP50, "s")
    r.e2e("bytes_per_input_byte") = (indexBytes / rawBytes, "ratio")

    if (c.tracer.enabled) {
      r.layer("pq.build_jobs") = (Layers.jobsPer(c.tracer, "pq.build"), "count")
      r.layer("pq.build_executor_run_s") = (Layers.executorRunSecondsPer(c.tracer, "pq.build"), "s")
      r.layer("pq.open_s") = (if (opens.isEmpty) 0.0 else Stats.median(opens.toSeq), "s")
      r.layer("pq.query_jobs") = (Layers.jobsPer(c.tracer, "Pq.queryIvfPq"), "count")
      r.layer("ingest.rows_appended") = (appendedRows.toDouble, "count")
      r.layer("ingest.replay_rows_appended") = (math.max(0L, replayRows).toDouble, "count")
      val versions = Option(rootPath.toFile.listFiles()).getOrElse(Array.empty)
        .count(f => f.isDirectory && f.getName.startsWith("v="))
      r.layer("manifest.versions_live") = (versions.toDouble, "count")
      r.layer("manifest.files") = (Files2.count(rootPath).toDouble, "count")
      r.layer("manifest.bytes") = (indexBytes.toDouble, "B")
    }
  }
}
