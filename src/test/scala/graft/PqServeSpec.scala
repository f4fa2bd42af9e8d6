package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import graft.operators.{Opq, Pq, Similarity}

/** The served top-k path of a staged IVF-PQ index: its answers, its
  * order and degenerate-input semantics, and its Spark-job budget.
  *
  * The recorded answers (`pq_served_answers.txt`, one scenario per
  * line) were produced by the broadcast-join + window formulation of
  * the rerank tail that the served path replaced; each row carries
  * its cosine as raw IEEE bits, so a match is bit-for-bit. */
class PqServeSpec extends SparkSpecBase {

  private lazy val vectors = graft.sources.Tables.embeddings(spark, sfDir)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Build, stage and reopen — the serving lifecycle. */
  private def stagedPq(corpus: DataFrame): Pq.IvfPqIndex = {
    val dir = tmp("graft_pq_serve")
    Pq.writeIvfPqIndex(Pq.buildIvfPq(corpus, metaCols = Seq("label")), dir)
    Pq.readIvfPqIndex(spark, dir)
  }

  private lazy val pq = stagedPq(vectors)

  private lazy val opq: Opq.IvfOpqIndex = {
    val dir = tmp("graft_opq_serve")
    Opq.writeIvfOpqIndex(Opq.buildIvfOpq(vectors, metaCols = Seq("label")), dir)
    Opq.readIvfOpqIndex(spark, dir)
  }

  /** Vector 7's embedding copied to vec_ids 1000..1059 (60 exact
    * duplicates: equal codes, so equal ADC distances, straddling the
    * Rerank = 40 cut), and vectors 10..13 re-keyed 2000..2003 under a
    * label no other vector carries. */
  private val DupLo = 1000L
  private val Dups = 60
  private lazy val extended: DataFrame = {
    val dups = vectors.filter(col("vec_id") === 7L)
      .crossJoin(spark.range(Dups).toDF("i"))
      .select((col("i") + DupLo).as("vec_id"), col("embedding"), col("label"))
    val rare = vectors.filter(col("vec_id").between(10L, 13L))
      .select((col("vec_id") + 1990L).as("vec_id"), col("embedding"),
        lit(777).as("label"))
    vectors.unionByName(dups).unionByName(rare)
  }
  /** `extended` staged so the duplicates' cell holds two code files —
    * the later half of the duplicates appended — and the codes scan
    * reads them in two partitions: each partition's heap keeps its
    * own tied duplicates, so the tie is broken by the cut across
    * partitions. Trained on all of `extended`, the index answers as
    * one built over it does (the append equation). */
  private lazy val pqExtended: Pq.IvfPqIndex = {
    val late = col("vec_id") >= DupLo + Dups / 2 && col("vec_id") < DupLo + Dups
    val dir = tmp("graft_pq_serve_ext")
    Pq.writeIvfPqIndex(Pq.buildIvfPq(extended.filter(!late), trainOn = extended,
      metaCols = Seq("label")), dir)
    Pq.appendIvfPqIndex(spark, dir, extended.filter(late))
    Pq.readIvfPqIndex(spark, dir)
  }

  /** The corpus plus two query-only rows that are in no index: an
    * all-zero vector (3000) and a vector of NaNs (3001). */
  private lazy val withDegenerate: DataFrame = {
    import spark.implicits._
    val extra = Seq((3000L, Seq.fill(64)(0.0f), 1), (3001L, Seq.fill(64)(Float.NaN), 1))
      .toDF("vec_id", "embedding", "label")
    vectors.unionByName(extra)
  }

  /** One row per result row, sorted by (query_id, rank):
    * `query_id,neighbor_id[,label],rank,<cosine raw bits in hex>`. */
  private def render(df: DataFrame): String = {
    val labeled = df.columns.contains("label")
    df.collect().toSeq.map { r =>
      val q = r.getAs[Long]("query_id")
      val rank = r.getAs[Int]("rank")
      val c = r.get(r.fieldIndex("cosine"))
      val bits = if (c == null) "null"
        else java.lang.Long.toHexString(
          java.lang.Double.doubleToRawLongBits(c.asInstanceOf[Double]))
      val lab = if (labeled) s",${r.get(r.fieldIndex("label"))}" else ""
      ((q, rank), s"$q,${r.getAs[Long]("neighbor_id")}$lab,$rank,$bits")
    }.sortBy(_._1).map(_._2).mkString(";")
  }

  private lazy val recorded: Map[String, String] = {
    val in = getClass.getResourceAsStream("/graft/pq_served_answers.txt")
    require(in != null, "pq_served_answers.txt missing from the test resources")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { l =>
        val Array(name, rows) = l.split("\t", 2); name -> rows
      }.toMap
    finally in.close()
  }

  private val Single = Seq(7L)
  private val Multi = Seq(0L, 1L, 2L, 3L, 4L, 123L, 499L)

  /** Every served answer of this spec, by scenario name — each one the
    * spec compares against the recorded parent-formulation rows. */
  private def served(name: String): DataFrame = name match {
    case "plain_single" => Pq.queryIvfPq(pq, vectors, Single)
    case "plain_multi" => Pq.queryIvfPq(pq, vectors, Multi)
    case "filtered_single" => Pq.queryIvfPqFiltered(pq, vectors, Single)
    case "filtered_multi" => Pq.queryIvfPqFiltered(pq, vectors, Multi)
    case "opq_single" => Opq.queryIvfOpq(opq, vectors, Single)
    case "opq_multi" => Opq.queryIvfOpq(opq, vectors, Multi)
    case "opq_filtered_multi" => Opq.queryIvfOpqFiltered(opq, vectors, Multi)
    case "underfill_filtered" => Pq.queryIvfPqFiltered(pqExtended, extended, Seq(2000L))
    case "tie_plain_k50" => Pq.queryIvfPq(pqExtended, extended, Seq(7L), k = 50)
    case "nan_query" => Pq.queryIvfPq(pq, withDegenerate, Seq(3001L))
    case "zero_query_legacy" =>
      withAnsi(false)(Pq.queryIvfPq(pq, withDegenerate, Seq(3000L)))
  }

  /** `body`'s rows, evaluated with ANSI mode set to `on` — collected
    * inside the scope, so the setting governs the evaluation. */
  private def withAnsi(on: Boolean)(body: => DataFrame): DataFrame = {
    val key = "spark.sql.ansi.enabled"
    val was = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try {
      val df = body
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    } finally spark.conf.set(key, was)
  }

  private def assertRecorded(name: String): DataFrame = {
    val df = served(name)
    assert(render(df) == recorded(name),
      s"$name: served rows differ from the recorded answers")
    df
  }

  test("served rows are bit-equal to the recorded answers: plain, " +
      "filtered and OPQ forms, single- and multi-id") {
    Seq("plain_single", "plain_multi", "filtered_single", "filtered_multi",
      "opq_single", "opq_multi", "opq_filtered_multi").foreach { name =>
      val df = assertRecorded(name)
      assert(df.count() > 0, s"$name: empty answer")
    }
    // answers are per query: a multi-id call answers each id exactly
    // as a single-id call does
    val multi = render(Pq.queryIvfPq(pq, vectors, Multi)).split(";")
    assert(multi.filter(_.startsWith("7,")).isEmpty)
    assert(render(Pq.queryIvfPq(pq, vectors, Seq(123L))).split(";")
      .sameElements(multi.filter(_.startsWith("123,"))))
  }

  test("an adist tie at the Rerank cut is broken by vec_id") {
    val rows = assertRecorded("tie_plain_k50").collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id"))).sortBy(_._1)
    // the duplicates share one code vector, hence one ADC distance:
    // the cut admits a vec_id-ascending prefix of them, and it really
    // fell inside the tie group
    val dups = rows.map(_._2).filter(id => id >= DupLo && id < DupLo + Dups)
    assert(dups.nonEmpty && dups.length < Dups, s"cut missed the tie group: $dups")
    assert(dups.sorted.sameElements(DupLo until DupLo + dups.length),
      s"tied candidates were not admitted in vec_id order: $dups")
    // equal cosines too: the final rank also orders them by vec_id
    assert(dups.sameElements(dups.sorted))
  }

  test("a probe with fewer than k same-label candidates under-fills k") {
    val rows = assertRecorded("underfill_filtered").collect()
    assert(rows.length < Similarity.K, s"${rows.length} rows")
    assert(rows.map(_.getAs[Int]("rank")).sorted.sameElements(1 to rows.length))
    assert(rows.forall(_.getAs[Int]("label") == 777))
  }

  test("an unknown query id returns a typed empty result") {
    def typed(df: DataFrame) = df.schema.map(f => (f.name, f.dataType))
    val plain = Pq.queryIvfPq(pq, vectors, Seq(-5L))
    assert(plain.count() == 0)
    assert(typed(plain) == typed(Pq.queryIvfPq(pq, vectors, Single)))
    assert(plain.columns.toSeq == Seq("query_id", "neighbor_id", "rank", "cosine"))
    val filtered = Pq.queryIvfPqFiltered(pq, vectors, Seq(-5L))
    assert(filtered.count() == 0)
    assert(typed(filtered) == typed(Pq.queryIvfPqFiltered(pq, vectors, Single)))
    // the label keeps the source column's type on both paths
    assert(filtered.schema("label").dataType == vectors.schema("label").dataType)
  }

  test("zero-norm and NaN query vectors: NaN cosines rank first, a zero " +
      "denominator nulls without ANSI and fails with DIVIDE_BY_ZERO under it") {
    val nan = assertRecorded("nan_query").collect()
    assert(nan.nonEmpty && nan.forall(_.getAs[Double]("cosine").isNaN))
    val legacy = assertRecorded("zero_query_legacy").collect()
    assert(legacy.nonEmpty && legacy.forall(_.isNullAt(3)))
    val err = intercept[Exception] {
      withAnsi(true)(Pq.queryIvfPq(pq, withDegenerate, Seq(3000L)))
    }
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
    assert(chain.exists {
      case t: SparkThrowable => t.getCondition == "DIVIDE_BY_ZERO"
      case _ => false
    }, s"expected DIVIDE_BY_ZERO, got $err")
  }

  /** Spark jobs `body` submits, counted by a listener through a job
    * group; a marker job flushes the listener queue (events arrive in
    * order) before the count is read. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"pq-serve-${System.nanoTime()}"
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

  test("a single-id query on an opened index runs at most 3 Spark jobs") {
    val opened = stagedPq(vectors)
    // the first query collects the index artifacts, once
    Pq.queryIvfPq(opened, vectors, Seq(11L)).collect()
    val jobs = jobsDuring { Pq.queryIvfPq(opened, vectors, Seq(12L)).collect() }
    assert(jobs <= 3, s"$jobs Spark jobs for one single-id query")
    val filtered = jobsDuring {
      Pq.queryIvfPqFiltered(opened, vectors, Seq(12L)).collect()
    }
    assert(filtered <= 3, s"$filtered Spark jobs for one filtered query")
  }
}
