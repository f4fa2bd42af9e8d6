package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What one workload run shares with the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val seconds: Int, val work: Path, val cpus: Int, val report: Report) {

  /** Runs one timed operation inside a root span: its wall time joins
    * `samples` when it returns, and a throw counts as a failed
    * operation. `tracedAlways = false` makes a traced run alternate
    * traced and untraced executions of this operation, so the run can
    * report tracing overhead against itself. */
  def op[T](name: String, samples: mutable.ArrayBuffer[Double],
            tracedAlways: Boolean = true)(body: => T): Option[T] = {
    report.attempted += 1
    val traced = tracedAlways || samples.length % 2 == 1
    val t0 = System.nanoTime()
    try {
      val r = if (traced) tracer.span(name)(body) else tracer.untraced(body)
      val s = (System.nanoTime() - t0) / 1e9
      samples += s
      if (tracer.enabled && !tracedAlways) (if (traced) report.tracedOps else report.untracedOps) += s
      Some(r)
    } catch {
      case NonFatal(e) =>
        report.failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
        None
    }
  }

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Whether another operation fits before `deadline`: it is started
    * only if half its expected (median so far) time still fits, so
    * the run overruns its measuring time by about as much as it
    * undershoots. */
  def hasTime(deadline: Long, samples: collection.Seq[Double]): Boolean = {
    val half = if (samples.isEmpty) 0.0 else Stats.median(samples.toSeq) / 2
    System.nanoTime() + (half * 1e9).toLong < deadline
  }

  /** An output check. A failed check counts as a failed operation. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    report.checks += ((name, ok, if (ok) "" else detail))
    if (!ok) report.failed += 1
  }

  /** A check made on every operation of a kind; the report lists it
    * once, with how many operations passed it. */
  def checkEach(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val (pass, fail, first) = report.eachChecks.getOrElse(name, (0, 0, ""))
    report.eachChecks(name) =
      if (ok) (pass + 1, fail, first) else (pass, fail + 1, if (fail == 0) detail else first)
    if (!ok) report.failed += 1
  }

  /** Order-independent content hash of a frame: row count plus the
    * decimal sums of two independent 64/32-bit row hashes. */
  def frameHash(df: DataFrame): String = {
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    val r = df.select(xxhash64(cols: _*).as("h1"), hash(cols: _*).as("h2"))
      .agg(count(lit(1)), sum(col("h1").cast("decimal(38,0)")),
        sum(col("h2").cast("decimal(38,0)"))).collect()(0)
    s"${r.getLong(0)}:${r.get(1)}:${r.get(2)}"
  }
}

/** Everything a run reports. `named` holds the workload's own metrics
  * under their full names; `e2e` maps them onto the benchmark-wide
  * end-to-end names every workload reports. */
final class Report(val workload: String) {
  var attempted = 0
  var failed = 0
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val eachChecks = mutable.LinkedHashMap.empty[String, (Int, Int, String)]
  val named = mutable.ArrayBuffer.empty[(String, Double, String, Int)]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]
  /** Root span name of the operation the `op_*` metrics time. */
  var primaryOp = ""
  val tracedOps = mutable.ArrayBuffer.empty[Double]
  val untracedOps = mutable.ArrayBuffer.empty[Double]

  val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]

  def metric(name: String, value: Double, unit: String, n: Int): Unit =
    named += ((name, value, unit, n))

  /** p50 and tail of a timing under `prefix`; returns the p50. */
  def timing(prefix: String, xs: Seq[Double]): Double = {
    samples(prefix) = xs
    val p50 = Stats.median(xs)
    metric(s"${prefix}_p50_s", p50, "s", xs.length)
    Stats.tail(xs).foreach(t =>
      metric(f"${prefix}_p${t.percentile}%.0f_s", t.value, "s", t.n))
    p50
  }
}

object Main {
  val Workloads: Seq[String] = Seq("etl_daily", "corpus_prep", "ann_serve_ingest")

  /** Input set-up is repeated this many times per run; `setup_s`
    * takes the median round. */
  val SetupRounds = 3

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: perfbench.Main --workload " +
      s"{${Workloads.mkString("|")}} --seed N --seconds S --trace 0|1 --work DIR --result FILE")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload $workload")
    val seed = need("seed").toLongOption.getOrElse(usage("--seed must be an integer"))
    val seconds = need("seconds").toIntOption.filter(_ > 0).getOrElse(usage("--seconds must be > 0"))
    val trace = need("trace") match { case "0" => false; case "1" => true; case t => usage(s"--trace $t") }
    val work = Paths.get(need("work")).toAbsolutePath
    val resultFile = Paths.get(need("result")).toAbsolutePath

    val cpus = Runtime.getRuntime.availableProcessors()
    val load0 = Env.load1m()
    val report = new Report(workload)
    val t0 = System.nanoTime()
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = new Ctx(spark, tracer, seed, seconds, work, cpus, report)
    report.metric("session_start_s", sessionS, "s", 1)

    try {
      workload match {
        case "etl_daily" => EtlDaily.run(ctx, sessionS)
        case "corpus_prep" => CorpusPrep.run(ctx, sessionS)
        case "ann_serve_ingest" => AnnServeIngest.run(ctx, sessionS)
      }
    } catch {
      case NonFatal(e) =>
        report.failed += 1
        report.checks += (("workload completed", false, e.toString))
        e.printStackTrace()
    }

    if (trace) {
      tracer.drain()
      Layers.spark(ctx, report)
      val spans = resultFile.resolveSibling(s"spans-$workload-seed$seed.json")
      tracer.writeJson(spans)
      report.info("spans") = spans.toString
    }
    val peak = Env.peakRssMb()
    report.metric("peak_rss_mb", peak, "MB", 1)
    report.metric("failed_ops_frac", report.failed.toDouble / math.max(1, report.attempted),
      "ratio", report.attempted)
    report.layer("jvm.peak_rss_mb") = (peak, "MB")
    report.info("nproc") = cpus.toString
    report.info("master") = s"local[$cpus]"
    report.info("load_1m_start") = load0.toString
    report.info("load_1m_end") = Env.load1m().toString
    spark.stop()
    writeResult(report, seed, seconds, trace, resultFile)
  }

  private def writeResult(r: Report, seed: Long, seconds: Int, trace: Boolean,
                          file: Path): Unit = {
    r.eachChecks.foreach { case (name, (pass, fail, first)) =>
      r.checks += ((s"$name ($pass of ${pass + fail} operations)", fail == 0, first))
    }
    val correct = r.failed == 0 && r.checks.forall(_._2) && r.attempted > 0
    def metrics(m: Iterable[(String, (Double, String))]) = Json.obj(m.toSeq.map {
      case (k, (v, u)) => k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    val body = Json.obj(Seq(
      "workload" -> Json.str(r.workload), "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> (if (trace) "1" else "0"),
      "correct" -> correct.toString, "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> metrics(
        if (trace) Layers.All.map { case (k, u) => k -> r.layer.getOrElse(k, (0.0, u)) }
        else r.e2e),
      "named" -> r.named.map { case (n, v, u, k) =>
        Json.obj(Seq("name" -> Json.str(n), "value" -> Json.num(v), "unit" -> Json.str(u),
          "n" -> k.toString))
      }.mkString("[", ",", "]"),
      "checks" -> r.checks.map { case (n, ok, d) =>
        Json.obj(Seq("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)))
      }.mkString("[", ",", "]"),
      "samples_s" -> Json.obj(r.samples.toSeq.map { case (k, xs) =>
        k -> xs.map(Json.num).mkString("[", ",", "]") }),
      "info" -> Json.obj(r.info.toSeq.map { case (k, v) => k -> Json.str(v) })))
    Files.createDirectories(file.getParent)
    Files.writeString(file, body + "\n")
  }
}
