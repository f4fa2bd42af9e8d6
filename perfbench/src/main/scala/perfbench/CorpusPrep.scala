package perfbench

import scala.collection.mutable

import graft.operators.CorpusPipeline
import graft.sources.Tables

/** `corpus_prep`: the training-data build, `CorpusPipeline.prepare`
  * (quality → exact dedup → near-dup clustering → decontamination →
  * sampling → packing) plus writing the prepared frame out. The same
  * seeded corpus is stored twice: as several parquet files in a
  * seeded row order (the measured input) and as one file in id order.
  * Both must prepare to the same content. */
object CorpusPrep {
  val Docs = 1000

  def run(c: Ctx, sessionS: Double): Unit = {
    val r = c.report
    val spark = c.spark
    import spark.implicits._
    val files = 2 * c.cpus
    def write(rows: Seq[Inputs.Doc], slices: Int, dir: java.nio.file.Path): Unit =
      spark.sparkContext
        .parallelize(rows.map(d => (d.docId, d.text, d.lang, d.source, d.text.length.toLong)), slices)
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.parquet(dir.resolve("documents.parquet").toString)

    val rounds = (0 until Main.SetupRounds).map { k =>
      val t0 = System.nanoTime()
      val docs = Inputs.documents(c.seed, Docs)
      val perm = Inputs.permutation(c.seed, Docs)
      val dir = c.work.resolve(s"input-$k")
      write(docs, 1, dir.resolve("single"))
      write(perm.toSeq.map(docs), files, dir.resolve("multi"))
      ((System.nanoTime() - t0) / 1e9, docs, dir)
    }
    val inputHashes = rounds.map(x => Inputs.docsHash(x._2)).distinct
    c.check("input generation is deterministic", inputHashes.length == 1, inputHashes.mkString(","))
    r.info("input_hash") = inputHashes.head
    val in = rounds.head._3
    rounds.tail.foreach(x => Files2.deleteTree(x._3))
    val multi = in.resolve("multi").toString
    val single = in.resolve("single").toString
    val inputBytes = Files2.bytes(in.resolve("multi"))

    /** prepare + write-out; returns the seconds `prepare` itself took
      * (its dedup loop and staging run eagerly inside the call). */
    def prepOnce(srcDir: String, out: java.nio.file.Path): Double = {
      val t = System.nanoTime()
      val df = c.span("CorpusPipeline.prepare")(CorpusPipeline.prepare(Tables.documents(spark, srcDir)))
      val prepS = (System.nanoTime() - t) / 1e9
      c.span("materialize")(df.write.mode("overwrite").parquet(out.toString))
      prepS
    }
    def outHash(out: java.nio.file.Path): String = c.frameHash(spark.read.parquet(out.toString))

    // warm-up: the single-file input, whose output the measured
    // multi-file runs must reproduce, then the multi-file input once
    val t1 = System.nanoTime()
    val outSingle = c.work.resolve("out-single")
    c.tracer.untraced {
      prepOnce(single, outSingle)
      prepOnce(multi, c.work.resolve("out-warmup"))
    }
    Files2.deleteTree(c.work.resolve("out-warmup"))
    val warmupS = (System.nanoTime() - t1) / 1e9
    val singleHash = outHash(outSingle)
    val inputS = Stats.median(rounds.map(_._1))
    r.metric("input_setup_s", inputS, "s", rounds.length)
    r.metric("warmup_s", warmupS, "s", 1)

    val runs = mutable.ArrayBuffer.empty[Double]
    val prepares = mutable.ArrayBuffer.empty[Double]
    val outs = mutable.ArrayBuffer.empty[java.nio.file.Path]
    val deadline = System.nanoTime() + c.seconds * 1000000000L
    while (c.hasTime(deadline, runs)) {
      val out = c.work.resolve(s"out-${outs.length}")
      c.op("corpus.prep", runs, tracedAlways = false)(prepOnce(multi, out)).foreach { p =>
        prepares += p
        outs += out
      }
    }
    val hashes = outs.map(outHash)

    c.check("every repetition hash-equals the first", hashes.distinct.length == 1,
      hashes.distinct.mkString(" / "))
    c.check("multi-file input hash-equals the single-file input",
      hashes.headOption.contains(singleHash), s"${hashes.headOption} != $singleHash")

    // bytes written per input byte: the prepared corpus plus the
    // scratch copies prepare stages (its staging directories sit in
    // the local scratch root beside Spark's own block and shuffle dirs)
    val outBytes = outs.headOption.map(Files2.bytes).getOrElse(0L)
    val stagedBytes = Files2.children(c.work.resolve("local"))
      .filterNot(p => Seq("blockmgr-", "spark-").exists(p.getFileName.toString.startsWith))
      .map(Files2.bytes).sum
    val writtenRatio = (outBytes + stagedBytes).toDouble / inputBytes
    val setupS = sessionS + inputS + warmupS
    r.metric("setup_s", setupS, "s", rounds.length)
    val p50 = r.timing("corpus_prep", runs.toSeq)
    val prepareP50 = r.timing("corpus_prepare_call", prepares.toSeq)
    r.metric("corpus_bytes_per_input_byte", writtenRatio, "ratio", 1)
    r.primaryOp = "corpus.prep"
    r.e2e("setup_s") = (setupS, "s")
    r.e2e("op_p50_s") = (p50, "s")
    r.e2e("op2_p50_s") = (prepareP50, "s")
    r.e2e("bytes_per_input_byte") = (writtenRatio, "ratio")

    if (c.tracer.enabled) {
      r.layer("corpus.prepare_s") = (Layers.spanSeconds(c.tracer, "CorpusPipeline.prepare"), "s")
      r.layer("corpus.materialize_s") = (Layers.spanSeconds(c.tracer, "materialize"), "s")
      r.layer("corpus.rows_out") =
        (hashes.headOption.map(_.takeWhile(_ != ':').toDouble).getOrElse(0.0), "count")
      r.layer("corpus.prepare_jobs") = (Layers.jobsPer(c.tracer, "CorpusPipeline.prepare"), "count")
      r.layer("scratch.bytes") = (stagedBytes.toDouble, "B")
    }
  }
}
