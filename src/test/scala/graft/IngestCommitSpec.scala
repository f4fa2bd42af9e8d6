package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators.{IndexManifest, Pq}
import graft.streaming.Streams

/** One atomic streaming ANN micro-batch commit: its Spark-job budget,
  * what its vacuum leaves on disk, and concurrent sinks on two
  * indexes. The index is the sf0.001 corpus in 40 cells, so the codes
  * tree holds more partition files than Spark lists serially — the
  * shape a served index has. Each batch re-keys the first 100 corpus
  * vectors to fresh vec_ids. */
class IngestCommitSpec extends SparkSpecBase {

  private lazy val vectors =
    sources.Tables.embeddings(spark, sfDir).select("vec_id", "embedding")

  private lazy val rows: Seq[(Long, Seq[Float])] =
    vectors.filter(col("vec_id") < 100L).collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

  private lazy val baseIds: Seq[Long] =
    vectors.select("vec_id").collect().map(_.getLong(0)).toSeq

  private lazy val built = Pq.buildIvfPq(vectors, cells = 40)

  /** The first 100 corpus vectors re-keyed to `firstId + vec_id`, as a
    * local frame — what `foreachBatch` hands a sink. */
  private def batch(firstId: Long): DataFrame = {
    import spark.implicits._
    rows.map { case (id, e) => (firstId + id, e) }.toDF("vec_id", "embedding")
  }

  private def stagedRoot(prefix: String): String = {
    val root = Files.createTempDirectory(prefix).toString
    Pq.stageIvfPqIndexVersion(built, root)
    root
  }

  private def versionNames(root: String): Seq[String] =
    new java.io.File(root).listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("v=")).map(_.getName).sorted

  private def liveIds(root: String): Seq[Long] =
    Pq.readIvfPqIndex(spark, IndexManifest.currentOrFail(spark, root))
      .codes.select("vec_id").collect().map(_.getLong(0)).toSeq.sorted

  /** Spark jobs `body` starts, counted by job group (the PqServeSpec
    * listener pattern). */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"ingest-commit-${System.nanoTime()}"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(s"$group-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(s"$group-marker"), "listener never saw the marker job")
      groups.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("a warm atomic commit runs at most 12 Spark jobs; a full replay at " +
      "most 9 and publishes no version") {
    val root = stagedRoot("graft_ingest_jobs")
    // the first commit reads the full-publish tree; the second is the
    // first against a delta version — the third is the steady state
    Streams.annIngestMicroBatchAtomic(batch(10000L), root)
    Streams.annIngestMicroBatchAtomic(batch(20000L), root)
    val b = batch(30000L)
    var n = -1L
    val commitJobs = jobsDuring { n = Streams.annIngestMicroBatchAtomic(b, root) }
    assert(n == rows.length.toLong)
    assert(commitJobs <= 12, s"$commitJobs Spark jobs for one warm commit")
    val versions = versionNames(root)
    val replayJobs = jobsDuring { n = Streams.annIngestMicroBatchAtomic(b, root) }
    assert(n == 0L, "a replayed batch must append nothing")
    assert(replayJobs <= 9, s"$replayJobs Spark jobs for a full replay")
    assert(versionNames(root) == versions, "a full replay must publish no version")
    info(s"warm commit: $commitJobs jobs; full replay: $replayJobs jobs")
  }

  test("after three commits with keep = 2 every data file under the " +
      "version directories and the store is one a retained version reads") {
    val root = stagedRoot("graft_ingest_vacuum")
    (1 to 3).foreach(k => Streams.annIngestMicroBatchAtomic(batch(10000L * k), root, keep = 2))
    def norm(p: String): Path =
      Paths.get(new org.apache.hadoop.fs.Path(p).toUri.getPath).normalize()
    val pointer = new String(Files.readAllBytes(Paths.get(root, "CURRENT")), "UTF-8")
      .linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    val retained = pointer.take(2).map(v => s"$root/$v")
    val read = retained.flatMap(IndexManifest.effectiveFiles(spark, _))
      .map(e => norm(e._2)).toSet
    val onDisk = (new java.io.File(root).listFiles().toSeq
      .filter(f => f.getName.startsWith("v=") || f.getName == IndexManifest.StoreDir))
      .flatMap { d =>
        val s = Files.walk(d.toPath)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
        finally s.close()
      }
      .filter { p =>
        // data files only: control files and checksums are no frame's rows
        val name = p.getFileName.toString
        !name.startsWith("_") && !name.startsWith(".")
      }
      .map(_.normalize())
    val dead = onDisk.filterNot(read)
    assert(dead.length == 0, s"${dead.length} data files no retained version reads, " +
      s"e.g. ${dead.take(3).mkString(", ")}")
    assert(liveIds(root) == (baseIds ++ (1 to 3).flatMap(k =>
      rows.map(_._1 + 10000L * k))).sorted)
  }

  test("two sinks committing concurrently to two indexes each land exactly " +
      "their own batches") {
    val roots = Seq(stagedRoot("graft_ingest_conc_a"), stagedRoot("graft_ingest_conc_b"))
    val rounds = 3
    def firstId(sink: Int, round: Int): Long = 100000L * (sink + 1) + 1000L * round
    val batches = roots.indices.map(i => (0 until rounds).map(k => batch(firstId(i, k))))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = roots.indices.map { i =>
      new Thread(() =>
        try (0 until rounds).foreach { k =>
          val n = Streams.annIngestMicroBatchAtomic(batches(i)(k), roots(i))
          if (n != rows.length) throw new AssertionError(
            s"sink $i round $k appended $n rows, not ${rows.length}")
        } catch { case t: Throwable => errors.add(t) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.asScala.map(_.toString).mkString("; "))
    roots.indices.foreach { i =>
      val want = (baseIds ++ (0 until rounds).flatMap(k =>
        rows.map(_._1 + firstId(i, k)))).sorted
      assert(liveIds(roots(i)) == want,
        s"index $i does not hold exactly its base plus its own batches")
    }
  }
}
