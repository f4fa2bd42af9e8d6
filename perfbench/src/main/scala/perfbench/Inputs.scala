package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Seeded input generators. Everything is derived from the seed alone,
  * in plain Scala on the driver, so a seed always yields the same rows
  * and the same content hash, and the benchmark can compute expected
  * outputs without asking the engine. The shapes follow graft's test
  * corpus: the `events`, `documents` and `embeddings` tables. */
object Inputs {

  /** SHA-256 over a canonical one-line-per-row rendering. */
  def contentHash(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(StandardCharsets.UTF_8)); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  // ---------------------------------------------------------------- events

  final case class Event(eventId: Long, tsMicros: Long, userId: Long,
                         eventType: String, value: Double, props: String)

  val EventTypes: Vector[String] = Vector("click", "error", "purchase", "signup", "view")
  val Users = 1500
  val FirstDay: java.time.LocalDate = java.time.LocalDate.of(2024, 1, 1)
  private val DayMicros = 86400L * 1000000L

  def dsOf(day: Int): String = FirstDay.plusDays(day.toLong).toString

  /** `days` × `rowsPerDay` events with fresh seeded ids (unique: a
    * seeded offset plus the row number), uniform timestamps within
    * each day, and exponential values rounded to cents like the
    * corpus' `value` column. */
  def events(seed: Long, days: Int, rowsPerDay: Int): Vector[Event] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5eed0001L)
    val idBase = 1000000L * (1 + rnd.nextInt(1000))
    val day0 = FirstDay.toEpochDay * DayMicros
    Vector.tabulate(days * rowsPerDay) { i =>
      val day = i / rowsPerDay
      val ts = day0 + day * DayMicros + rnd.nextLong(DayMicros)
      val v = math.round(-50.0 * math.log(1.0 - rnd.nextDouble()) * 100.0) / 100.0
      Event(idBase + i, ts, rnd.nextInt(Users).toLong, EventTypes(rnd.nextInt(EventTypes.size)),
        v, s"""{"k": ${rnd.nextInt(100)}}""")
    }
  }

  def eventsHash(es: Seq[Event]): String =
    contentHash(es.iterator.map(e =>
      s"${e.eventId}|${e.tsMicros}|${e.userId}|${e.eventType}|${e.value}|${e.props}"))

  /** The L2 row count a keep-latest merge on (user_id, event_type) must
    * leave for each ds: the distinct key count of that day's rows. */
  def expectedL2Rows(es: Seq[Event]): Map[String, Long] =
    es.groupBy(e => dsOf(((e.tsMicros / DayMicros) - FirstDay.toEpochDay).toInt))
      .map { case (ds, rows) => ds -> rows.map(e => (e.userId, e.eventType)).distinct.size.toLong }

  // ------------------------------------------------------------- documents

  final case class Doc(docId: Long, text: String, lang: String, source: String)

  val Vocab: Vector[String] = Vector("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table",
    "the", "value", "vector", "window")
  private val Langs = Vector("en" -> 0.41, "zh" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "de" -> 0.14)
  val Sources = 20

  /** `n` documents of 10–100 words from the corpus vocabulary; 5 % are
    * near duplicates (an earlier original text plus " dup") and 0.2 %
    * exact copies of one, the duplicate mix of the test corpus.
    * Duplicates copy originals only, so every duplicate cluster is a
    * star and the near-dup clustering loop runs the same number of
    * rounds whatever the seed. */
  def documents(seed: Long, n: Int): Vector[Doc] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5eed0002L)
    val originals = scala.collection.mutable.ArrayBuffer.empty[String]
    def lang(): String = {
      var u = rnd.nextDouble()
      Langs.find { case (_, p) => u -= p; u < 0 }.map(_._1).getOrElse(Langs.last._1)
    }
    Vector.tabulate(n) { i =>
      val u = rnd.nextDouble()
      val text =
        if (originals.nonEmpty && u < 0.05) originals(rnd.nextInt(originals.length)) + " dup"
        else if (originals.nonEmpty && u < 0.052) originals(rnd.nextInt(originals.length))
        else {
          val t = Iterator.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
          originals += t
          t
        }
      Doc(i.toLong, text, lang(), s"src${i % Sources}")
    }
  }

  def docsHash(ds: Seq[Doc]): String =
    contentHash(ds.iterator.map(d => s"${d.docId}|${d.lang}|${d.source}|${d.text}"))

  /** A seeded permutation of 0 until n (Fisher–Yates). */
  def permutation(seed: Long, n: Int): Array[Int] = {
    val rnd = new java.util.SplittableRandom(seed ^ 0x5eed0003L)
    val p = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t; i -= 1 }
    p
  }

  // --------------------------------------------------------------- vectors

  final case class Vec(vecId: Long, embedding: Array[Float], label: Int)

  /** Gaussian-mixture unit vectors: `clusters` seeded centres, each
    * point a centre plus isotropic noise, normalised; `label` is the
    * centre. Ids run from `firstId`. */
  def vectors(seed: Long, firstId: Long, n: Int, dim: Int, clusters: Int,
              stream: Long = 0L): Vector[Vec] = {
    val cRnd = new java.util.SplittableRandom(seed ^ 0x5eed0004L)
    val centres = Array.fill(clusters, dim)(gauss(cRnd))
    val rnd = new java.util.SplittableRandom(seed ^ 0x5eed0005L ^ (stream * 0x9e3779b97f4a7c15L))
    Vector.tabulate(n) { i =>
      val c = rnd.nextInt(clusters)
      val x = Array.tabulate(dim)(j => centres(c)(j) + 0.3 * gauss(rnd))
      val nrm = math.sqrt(x.map(v => v * v).sum)
      Vec(firstId + i, x.map(v => (v / nrm).toFloat), c)
    }
  }

  private def gauss(r: java.util.SplittableRandom): Double = {
    // Box–Muller; SplittableRandom has no nextGaussian of its own
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * r.nextDouble())
  }

  def vecsHash(vs: Seq[Vec]): String =
    contentHash(vs.iterator.map(v =>
      s"${v.vecId}|${v.label}|${v.embedding.map(f => java.lang.Float.floatToIntBits(f)).mkString(",")}"))

  /** Exact cosine top-k neighbours of `q` among `pool`, the query
    * itself excluded (as graft's ANN queries exclude it): ties broken
    * by ascending id. Vectors are unit length, so cosine = dot. */
  def exactTopK(q: Vec, pool: Seq[Vec], k: Int): Seq[Long] =
    pool.iterator.filter(_.vecId != q.vecId).map { v =>
      var dot = 0.0; var j = 0
      while (j < q.embedding.length) { dot += q.embedding(j).toDouble * v.embedding(j); j += 1 }
      (v.vecId, dot)
    }.toSeq.sortBy { case (id, d) => (-d, id) }.take(k).map(_._1)
}
