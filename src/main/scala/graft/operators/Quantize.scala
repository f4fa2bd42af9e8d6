package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.{VectorOps => V}

/** Scalar (per-dimension affine) int8 quantization of the embedding
  * corpus (key `vec_quantize`) — the storage/serving compression knob
  * of the similarity tier (SURVEY §2.4). Where PQ ([[Pq]]) compresses
  * by replacing subvectors with codebook ids, scalar quantization
  * keeps the geometry per dimension: each coordinate maps affinely
  * onto the 256-level int8 grid of its OWN corpus range, an ~8×
  * cut over float64 (4× over float32) that brute-force and IVF scans
  * can consume directly with a per-dimension dequant in the kernel.
  * The operator reports the quantizer itself plus its measured
  * reconstruction error — the artifact a serving deployment persists
  * next to the corpus, and the error bound a recall analysis starts
  * from.
  *
  * Contract (engine-portable, every step deterministic):
  *   - per dimension `pos` (1-based), `mn`/`mx` are the corpus min/max
  *     of that coordinate (float widened to double);
  *   - code `q = floor(((x - mn) * 255.0) / (mx - mn) + 0.5) - 128`
  *     (affine round-to-nearest onto -128..127; the `floor(t + 0.5)`
  *     form is portable where round() tie policies differ across
  *     engines — the argument is non-negative here so half-up and
  *     half-away agree, and both engines compute the SAME IEEE double
  *     `t`); a degenerate dimension (`mx == mn`) codes to 0;
  *   - dequant `deq = mn + ((q + 128) * (mx - mn)) / 255.0`, so
  *     |x - deq| <= (mx - mn)/510 by construction (half a step);
  *   - the report row per dimension: `n`, `mn`, `mx`, `sum_q` (an
  *     exact integer checksum of every code in the dimension),
  *     `mean_abs_err` (accumulated as exact integer 1e-12 units via
  *     `floor(err·10¹² + 0.5)` — the same portable rounding as the
  *     codes themselves, with no per-element double→decimal cast and
  *     hence none of that cast's cross-engine midpoint flake), and
  *     `max_err`.
  *
  * 100 TB: two narrow corpus scans (range pass, then quantize+error
  * pass), each collapsing map-side to d partial cells per partition —
  * the shuffle is d×partitions counters, never corpus rows (the
  * vec_covariance precedent, Similarity.scala). The d-row range frame
  * joins back as a broadcast; output is a d-row report. Nothing here
  * is driver-resident but the report itself, so the operator's cost
  * is scan-linear and its plan survives any corpus size the scans do.
  * A deployment quantizing FOR storage would add the codes write
  * (`write.parquet` of (vec_id, q-array)) — one more narrow map over
  * the same broadcast ranges, same scan shape. */
object Quantize {

  /** Quantization levels minus one: codes span -128..127. */
  val Steps = 255.0

  /** Driver query (key `vec_quantize`): the per-dimension quantizer +
    * reconstruction-error report over the embeddings corpus. */
  def vecQuantize(spark: SparkSession, dir: String): DataFrame =
    vecQuantizeOn(Tables.embeddings(spark, dir))

  /** The codes write the report's quantizer implies: every vector as
    * its int8 code array `(vec_id, codes)` — the storage form a
    * serving corpus persists beside the d-row range artifact (returned
    * by [[quantizerRanges]]; decode is `mn + ((q+128)·(mx-mn))/255`
    * per dimension). One narrow map over the corpus against the
    * broadcast ranges — same grid, same rounding, same degenerate-
    * dimension rule as the report, spec-equated to it (per-dimension
    * code sums match the report's `sum_q` exactly). Codes are INT in
    * the frame (Spark has no int8 column type); parquet's integer
    * packing stores the -128..127 domain in a byte-wide page anyway. */
  def quantizeCodesOn(vectors: DataFrame): DataFrame =
    quantizeCodesAgainst(vectors, quantizerRanges(vectors))

  /** Encode against a FIXED ranges artifact — the incremental form
    * ([[appendSq8Index]]): a daily batch encodes against the day-0
    * grid exactly as PQ appends encode against frozen codebooks, so
    * appends compose and the index stays self-consistent (decode uses
    * the one persisted artifact). Values OUTSIDE the trained span
    * SATURATE to the nearest end code (the standard scalar-quantizer
    * rule — a frozen grid cannot represent them better, and the
    * approximate ranking stays monotone at the boundary); for the
    * same-corpus build the clamp is the identity, since every value
    * is inside its own min/max by construction. Persistent drift past
    * the grid means re-quantize — the PQ re-train cadence.
    *
    * Dimension discipline (r15 advice): saturation covers out-of-RANGE
    * values but a mis-dimensioned input is a pipeline bug, never data
    * drift — a too-long vector's tail positions have no grid row
    * (formerly silently DROPPED by the inner join, appending truncated
    * codes), and a too-short vector decodes against a mismatched
    * literal width downstream. Both now FAIL the job in-plan: the grid
    * join is a left join whose unmatched positions raise, and callers
    * that know the grid width (every staged-artifact path — the width
    * is a d-row parquet count) pass `dim` so under-width vectors raise
    * at the reassembly step. Same-corpus builds pass dim=None: their
    * width matches by construction and the grid frame is a corpus
    * aggregation whose extra count scan would double the build cost. */
  def quantizeCodesAgainst(vectors: DataFrame, ranges: DataFrame,
                           dim: Option[Long] = None): DataFrame = {
    // r20 (guide §2.3/§2.4, the [[Pq.encodeCodes]] shape): the grid is
    // a BOUNDED d-row artifact, so collect it once and encode in ONE
    // narrow corpus pass — the previous form posexploded every vector
    // (n·d rows), broadcast-joined the grid, and re-assembled each
    // code array through a groupBy shuffle, i.e. the whole corpus
    // crossed an exchange just to apply a d-row table. Same saturating
    // arithmetic (identical IEEE ops per coordinate), same loud
    // diagnoses: a coordinate past the grid and a width mismatch throw
    // the same messages the raise_error columns carried, and an empty
    // embedding array still yields no code row (posexplode semantics).
    val spark = vectors.sparkSession
    import spark.implicits._
    val rgRows = ranges
      .select(col("pos").cast("long"), col("mn"), col("mx")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    // loud-failure contract (r21, ADVICE): the grid is indexed
    // POSITIONALLY below, so a ranges frame with non-contiguous pos
    // values would silently mis-map coordinates where the old
    // pos-keyed join raised the beyond-grid error — require pos to
    // cover 1..d exactly. (Non-finite coordinates: NaN codes 0 and
    // -Inf saturates to -128 through the floor+clamp below — the
    // corpus contract is finite embeddings, pinned by the oracle.)
    rgRows.iterator.zipWithIndex.foreach { case ((p, _, _), i) =>
      require(p == i + 1L,
        s"quantizeCodesAgainst: ranges frame is not a contiguous 1..d " +
          s"grid (position ${i + 1} carries pos=$p) — corrupted artifact")
    }
    val rg: Array[(Double, Double)] = rgRows.map(t => (t._2, t._3))
    val d = rg.length
    vectors.filter(col("embedding").isNotNull)
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.flatMap { case (vid, e) =>
          if (e.isEmpty) None
          else {
            if (e.length > d)
              throw new IllegalArgumentException(
                s"quantizeCodesAgainst: vector $vid has a coordinate at " +
                  s"position ${d + 1} beyond the trained grid — re-train " +
                  "or fix the feed")
            dim.foreach { w =>
              if (e.length != w)
                throw new IllegalArgumentException(
                  s"quantizeCodesAgainst: vector $vid has ${e.length} " +
                    s"coordinates but the trained grid has $w")
            }
            val out = new Array[Int](e.length)
            var j = 0
            while (j < e.length) {
              val mn = rg(j)._1
              val mx = rg(j)._2
              out(j) =
                if (mx == mn) 0
                else {
                  val fl = math.floor(((e(j) - mn) * Steps) / (mx - mn) + 0.5) - 128.0
                  math.max(-128L, math.min(127L, fl.toLong)).toInt
                }
              j += 1
            }
            Some((vid, out))
          }
        }
      }.toDF("vec_id", "codes")
  }

  /** Erasure-bucket count for the staged codes layout: codes live in
    * `grp=<vec_id mod N>` partition directories so a delete rewrites
    * only its ids' buckets (1/N of the index each), never the whole
    * tree — SQ8 has no coarse cell to partition by, so the bucket
    * stands in for the PQ tier's `cell=` directories. A deployment
    * sizes N so a bucket rewrite fits its erasure SLA (thousands at
    * 100 TB); the flat scan itself is unaffected — every query reads
    * all buckets by design. */
  val Sq8Buckets = 64L

  private def withGrp(codes: DataFrame): DataFrame =
    codes.withColumn("grp", pmod(col("vec_id"), lit(Sq8Buckets)))

  /** Stage the SQ8 index durably (two parquet frames under `path`):
    * the d-row ranges artifact and the int8 codes — the serving form a
    * deployment persists, completing the build-once/query-many split
    * the PQ tier has ([[Pq.writeIvfPqIndex]] precedent). Codes are
    * encoded against the STAGED ranges read back from parquet (exact
    * double round-trip), so artifact and codes can never drift. Codes
    * land in [[Sq8Buckets]] `grp=` partition directories — the
    * erasure-granularity layout [[deleteFromSq8Index]] rewrites.
    * `metaCols` names vector columns to ride the code rows (the
    * metadata-in-index layout [[querySq8IndexFiltered]] serves —
    * [[Pq.buildIvfPq]]'s recipe on the SQ8 tier): filter columns live
    * NEXT to the codes so a filtered query never joins the float
    * corpus per candidate. */
  def writeSq8Index(vectors: DataFrame, path: String,
                    metaCols: Seq[String] = Seq.empty): Unit = {
    val spark = vectors.sparkSession
    quantizerRanges(vectors).write.mode("overwrite").parquet(s"$path/ranges")
    val staged = IndexManifest.readFrame(spark, path, "ranges")
    val codes = quantizeCodesAgainst(vectors, staged, dim = Some(staged.count()))
    val withMeta =
      if (metaCols.isEmpty) codes
      else codes.join(
        vectors.select((Seq("vec_id") ++ metaCols).map(col): _*), "vec_id")
    withGrp(withMeta)
      .repartition(col("grp"))
      .write.mode("overwrite").partitionBy("grp").parquet(s"$path/codes")
  }

  /** Incremental SQ8 maintenance: encode `newVectors` against the
    * index's FROZEN ranges (saturating at the grid ends — see
    * [[quantizeCodesAgainst]]) and append only their code files — the
    * existing artifact and every existing code file stay untouched,
    * so the append bill is O(|new|), never O(index). A batch whose
    * vectors don't match the artifact's width FAILS (r15 advice — a
    * truncated or short code row would silently poison every later
    * scan; the width count is a d-row parquet read). Metadata columns
    * riding the staged codes ([[writeSq8Index]]'s `metaCols`) are
    * derived from the index schema and REQUIRED of the batch — a
    * batch missing one would leave null-labeled rows invisible to
    * every filtered query (the [[Pq.appendIvfPqIndex]] discipline).
    * Returns the number of appended code rows. */
  def appendSq8Index(spark: SparkSession, path: String,
                     newVectors: DataFrame): Long = {
    val ranges = IndexManifest.readFrame(spark, path, "ranges")
    val riding = IndexManifest.readFrame(spark, path, "codes").columns.toSeq
      .filterNot(Set("vec_id", "codes", "grp"))
    riding.foreach(c => require(newVectors.columns.contains(c),
      s"appendSq8Index: the staged codes ride metadata column '$c' " +
        s"but the batch lacks it — appends must carry the index's riding set"))
    val encoded = quantizeCodesAgainst(newVectors, ranges, dim = Some(ranges.count()))
    val withMeta =
      if (riding.isEmpty) encoded
      else encoded.join(
        newVectors.select((Seq("vec_id") ++ riding).map(col): _*), "vec_id")
    val newCodes = Scratch.stageReuse(withGrp(withMeta), "sq8_append_codes")
    newCodes.repartition(col("grp"))
      .write.mode("append").partitionBy("grp").parquet(s"$path/codes")
    newCodes.count()
  }

  /** ATOMIC SQ8 append (r17 verdict item 1): [[appendSq8Index]]'s
    * encode arithmetic through [[IndexManifest.appendRowsAtomic]] on
    * a manifest-rooted index — untouched `grp=` buckets hardlink into
    * a fresh version, the batch's buckets rewrite as old ∪ new, one
    * pointer flip. Concurrent readers see the batch wholly or not at
    * all. */
  def appendSq8IndexAtomic(spark: SparkSession, root: String,
                           newVectors: DataFrame, keep: Int = 2): Long = {
    val live = IndexManifest.currentOrFail(spark, root)
    val ranges = IndexManifest.readFrame(spark, live, "ranges")
    val liveCodes = IndexManifest.readFrame(spark, live, "codes")
    val riding = liveCodes.columns.toSeq
      .filterNot(Set("vec_id", "codes", "grp"))
    riding.foreach(c => require(newVectors.columns.contains(c),
      s"appendSq8IndexAtomic: the staged codes ride metadata column '$c' " +
        s"but the batch lacks it — appends must carry the index's riding set"))
    val encoded = quantizeCodesAgainst(newVectors, ranges, dim = Some(ranges.count()))
    val withMeta =
      if (riding.isEmpty) encoded
      else encoded.join(
        newVectors.select((Seq("vec_id") ++ riding).map(col): _*), "vec_id")
    // epoch-pinned like every tier append (r20): the grid the encode
    // used is this version's — a mid-flight retrain fails loudly
    IndexManifest.appendRowsAtomic(spark, root, live, liveCodes, "codes",
      "grp", withGrp(withMeta), keep)
  }

  /** ATOMIC SQ8 erasure: [[deleteFromSq8Index]]'s survivor semantics
    * through the manifest — only buckets holding an erased id rewrite
    * into the new version, no reader ever sees a half-erased index. */
  def deleteFromSq8IndexAtomic(spark: SparkSession, root: String,
                               vecIds: Seq[Long], keep: Int = 2): Long =
    IndexManifest.deleteVecIdsAtomic(spark, root, "codes", "grp",
      vecIds, keep)

  /** Right-to-erasure on the staged SQ8 index: drop the code rows of
    * `vecIds`, rewriting ONLY the `grp=` bucket directories that
    * contain an erased id — every other bucket's files stay
    * byte-identical (spec-asserted), so the erasure bill is
    * O(affected buckets · index/N), never O(index). An emptied bucket
    * is retired outright (the [[Pq.deleteFromIvfPqIndex]] recipe —
    * this function IS that recipe with the erasure bucket standing in
    * for the coarse cell). The ranges artifact is unaffected: it is a
    * trained AGGREGATE, not per-record state — re-quantize on the
    * next reindex cadence. Crash residual shared with the PQ form:
    * per-bucket commits, idempotent-retry repair. Returns the number
    * of deleted code rows. */
  def deleteFromSq8Index(spark: SparkSession, path: String,
                         vecIds: Seq[Long]): Long = {
    if (vecIds.isEmpty) return 0L
    val codesPath = s"$path/codes"
    // the survivor rewrite must carry EVERY posting column — dropping
    // a riding metadata column here would silently erase the filtered
    // tier (the deleteFromIvfPqIndex discipline)
    def codes = {
      val raw = spark.read.parquet(codesPath)
      val meta = raw.columns.toSeq
        .filterNot(Set("vec_id", "codes", "grp")).map(col)
      raw.select((Seq(col("vec_id"), col("codes"),
        col("grp").cast("long").as("grp")) ++ meta): _*)
    }
    val affected = codes.filter(col("vec_id").isInCollection(vecIds))
      .select("grp").distinct().collect().map(_.getLong(0))
    if (affected.isEmpty) return 0L
    val survivors = Scratch.stageReuse(
      codes.filter(col("grp").isInCollection(affected.toSeq))
        .filter(!col("vec_id").isInCollection(vecIds)),
      "sq8_delete_survivors")
    val survivorGrps = survivors.select("grp").distinct()
      .collect().map(_.getLong(0)).toSet
    val nBefore = codes.filter(col("grp").isInCollection(affected.toSeq)).count()
    val nAfter = survivors.count()
    survivors.repartition(col("grp"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("grp").parquet(codesPath)
    // dynamic overwrite writes nothing for an emptied bucket — retire
    // its stale directory explicitly
    val fs = new org.apache.hadoop.fs.Path(codesPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (affected.toSet -- survivorGrps).foreach { g =>
      fs.delete(new org.apache.hadoop.fs.Path(codesPath, s"grp=$g"), true)
      ()
    }
    nBefore - nAfter
  }

  /** Query a STAGED SQ8 index: the [[knnSq8On]] scan over the
    * persisted codes + ranges, nothing rebuilt — queries and the
    * exact rerank read the float corpus only for the query vectors
    * and the Rerank·Q candidate sliver. Answers bit-identically to
    * the in-memory form (spec-asserted). */
  def querySq8Index(spark: SparkSession, path: String, vectors: DataFrame,
                    queryIds: Seq[Long], k: Int = Similarity.K,
                    rerank: Int = Pq.Rerank): DataFrame = {
    val rg = IndexManifest.readFrame(spark, path, "ranges")
      .orderBy(col("pos")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    if (rg.isEmpty)
      return vectors.limit(0).select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        lit(0).as("rank"), lit(0.0).as("cosine"))
    sq8Scan(IndexManifest.readFrame(spark, path, "codes"), rg, vectors,
      col("vec_id").isInCollection(queryIds), k, rerank)
  }

  /** RADIUS query over the staged SQ8 index (key `knn_sq8_radius`) —
    * range search served off the COMPRESSED tier: the decode-in-kernel
    * scan admits candidates whose APPROXIMATE cosine clears τ (a
    * stateless filter — no window, no heap, the [[Similarity
    * .knnRadiusOn]] tail at the compressed scan's byte cost), then the
    * bounded candidate set is exact-verified against the float corpus,
    * so every emitted row genuinely clears τ (precision 1.0 by
    * construction; the approximate prefilter bounds recall by the
    * decode error, |x−deq| ≤ span/510 per coordinate — near-exact).
    * Deterministic end-to-end: decode is the oracle-replayable
    * [[vecQuantizeOn]] arithmetic and both thresshold comparisons are
    * the same IEEE compare both engines — hence a full hash oracle.
    *
    * 100 TB: one narrow scan of the compressed codes, broadcast
    * queries, the τ-filter collapses the candidate stream before any
    * shuffle; the float corpus is touched only for Q query rows and
    * the |result|-sized verify sliver. */
  def querySq8IndexRadius(spark: SparkSession, path: String,
                          vectors: DataFrame, queryIds: Seq[Long],
                          tau: Double = Similarity.RadiusTau): DataFrame = {
    val rg = IndexManifest.readFrame(spark, path, "ranges")
      .orderBy(col("pos")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    if (rg.isEmpty)
      return vectors.limit(0).select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        lit(0.0).as("cosine"))
    val decoded = dequantized(IndexManifest.readFrame(spark, path, "codes"), rg)
    val vn = vectors
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", V.l2Norm(col("e")))
    val queries = broadcast(vn.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm")))
    val cand = decoded.join(queries, col("vec_id") =!= col("query_id"))
      .filter(V.cosineWithNorms(V.dot(col("de"), col("qe")),
        col("dn"), col("qnrm")) >= tau)
      .select(col("query_id"), col("vec_id"))
    cand.join(vn, "vec_id").join(queries, "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        V.cosineWithNorms(V.dot(col("e"), col("qe")), col("nrm"), col("qnrm"))
          .as("cosine"))
      .filter(col("cosine") >= tau)
  }

  /** FILTERED RADIUS off the staged SQ8 index (key
    * `knn_sq8_radius_filtered`): [[querySq8IndexRadius]]'s
    * approximate-cosine admission with [[querySq8IndexFiltered]]'s
    * scan-time label predicate — the label rides the code rows, so a
    * rejected candidate costs one comparison before any decode
    * arithmetic, and the bounded same-label admitted set
    * exact-verifies against the float corpus (precision 1.0, the
    * radius contract). Output (query_id, neighbor_id, label, cosine);
    * label typed from the corpus projection. */
  def querySq8IndexRadiusFiltered(spark: SparkSession, path: String,
                                  vectors: DataFrame, queryIds: Seq[Long],
                                  tau: Double = Similarity.RadiusTau,
                                  filterCol: String = "label"): DataFrame = {
    val rg = IndexManifest.readFrame(spark, path, "ranges")
      .orderBy(col("pos")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val staged = IndexManifest.readFrame(spark, path, "codes")
    require(staged.columns.contains(filterCol),
      s"staged codes carry no '$filterCol' column — " +
        s"stage the index with metaCols = Seq(\"$filterCol\")")
    val vnl = vectors
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"),
        col(filterCol).as("label"))
      .withColumn("nrm", V.l2Norm(col("e")))
    val vn = vnl.select(col("vec_id"), col("e"), col("nrm"))
    if (rg.isEmpty)
      return vectors.limit(0).select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col(filterCol).as("label"), lit(0.0).as("cosine"))
    val decoded = dequantized(
      staged.select(col("vec_id"), col("codes"), col(filterCol)), rg)
    val queries = broadcast(vnl.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qnrm"), col("label").as("qlabel")))
    // label equality BEFORE the decode cosine in the conjunction: a
    // cross-label candidate is dropped for one comparison
    val cand = decoded.join(queries, col("vec_id") =!= col("query_id"))
      .filter(col(filterCol) === col("qlabel") &&
        V.cosineWithNorms(V.dot(col("de"), col("qe")),
          col("dn"), col("qnrm")) >= tau)
      .select(col("query_id"), col("vec_id"))
    cand.join(vnl, "vec_id").join(queries, "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("label"),
        V.cosineWithNorms(V.dot(col("e"), col("qe")), col("nrm"), col("qnrm"))
          .as("cosine"))
      .filter(col("cosine") >= tau)
  }

  /** Driver query (key `knn_sq8_radius_filtered`): stage with the
    * label riding the codes, answer the same-label radius query. */
  def knnSq8RadiusFiltered(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val path = Scratch.reuseDir("sq8_radius_filt_idx")
    writeSq8Index(vectors, path, metaCols = Seq("label"))
    querySq8IndexRadiusFiltered(spark, path, vectors,
      0L until Similarity.NQueries.toLong)
  }

  /** Driver query (key `knn_sq8_radius`): stage the SQ8 index, answer
    * the radius query off the compressed codes. */
  def knnSq8Radius(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val path = Scratch.reuseDir("sq8_radius_idx")
    writeSq8Index(vectors, path)
    querySq8IndexRadius(spark, path, vectors, 0L until Similarity.NQueries.toLong)
  }

  /** Driver query (key `knn_sq8_delete`): the erasure half of the SQ8
    * CRUD lifecycle end to end — stage over the full corpus,
    * [[deleteFromSq8Index]] of ids [[Pq.DeleteLo]]..[[Pq.DeleteHi]]
    * (only their buckets rewritten), then the staged top-k query. The
    * oracle replays the flat SQ8 search with exactly those ids
    * excluded from candidate enumeration — the ranges grid (a trained
    * aggregate) and every surviving code are unchanged by erasure. */
  def knnSq8Delete(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val path = Scratch.reuseDir("sq8_delete_idx")
    writeSq8Index(vectors, path)
    deleteFromSq8Index(spark, path, Pq.DeleteLo to Pq.DeleteHi)
    querySq8Index(spark, path, vectors, 0L until Similarity.NQueries.toLong)
  }

  /** FILTERED top-k off the staged SQ8 index (key `knn_sq8_filtered`)
    * — the metadata predicate evaluated INSIDE the decode scan: the
    * filter column rides the code rows ([[writeSq8Index]]'s
    * `metaCols`), so a rejected candidate costs one comparison before
    * any decode arithmetic and the float corpus is touched only for
    * the Q query rows and the Rerank·Q rerank sliver. Post-filtering
    * an unfiltered top-k under-fills k whenever the filter is
    * selective (the knn_filtered correctness trap) — here the
    * candidate RANKING itself is same-label, so k slots always fill
    * where the corpus has them. No probe-widening lever exists on the
    * flat tier (the scan reads every bucket by design); selectivity
    * only SHRINKS the ranked stream. Output: (query_id, neighbor_id,
    * label, rank, cosine) — exact cosines, the approximate decode
    * order only shapes the candidate cut; the output label joins from
    * the corpus projection so its TYPE is the source column's. */
  def querySq8IndexFiltered(spark: SparkSession, path: String,
                            vectors: DataFrame, queryIds: Seq[Long],
                            k: Int = Similarity.K,
                            rerank: Int = Pq.Rerank,
                            filterCol: String = "label"): DataFrame = {
    val rg = IndexManifest.readFrame(spark, path, "ranges")
      .orderBy(col("pos")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    if (rg.isEmpty)
      return vectors.limit(0).select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col(filterCol).as("label"), lit(0).as("rank"), lit(0.0).as("cosine"))
    val raw = IndexManifest.readFrame(spark, path, "codes")
    require(raw.columns.contains(filterCol),
      s"staged SQ8 codes carry no '$filterCol' column — " +
        s"stage the index with metaCols = Seq(\"$filterCol\")")
    val decoded = dequantized(
      raw.select(col("vec_id"), col("codes"), col(filterCol)), rg)
    val vnl = vectors
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"),
        col(filterCol))
      .withColumn("nrm", V.l2Norm(col("e")))
    val queries = broadcast(vnl.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("e").as("qe"),
        col("nrm").as("qnrm"), col(filterCol).as("qlabel")))
    val scored = decoded.join(queries, col("vec_id") =!= col("query_id"))
      .filter(col(filterCol) === col("qlabel"))
      .select(col("query_id"), col("vec_id"),
        V.cosineWithNorms(V.dot(col("de"), col("qe")), col("dn"), col("qnrm"))
          .as("cosine"))
    val cw = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val cand = broadcast(Similarity.partitionTopK(scored, rerank)
      .withColumn("crk", row_number().over(cw))
      .filter(col("crk") <= rerank)
      .select(col("query_id"), col("vec_id")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    cand.join(vnl, "vec_id").join(queries, "query_id")
      .select(col("query_id"), col("vec_id"), col(filterCol).as("label"),
        V.cosineWithNorms(V.dot(col("e"), col("qe")), col("nrm"), col("qnrm"))
          .as("cosine"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("label"), col("rank"), col("cosine"))
  }

  /** Driver query (key `knn_sq8_filtered`): stage the SQ8 index with
    * the label riding the code rows, answer same-label top-k with the
    * predicate inside the compressed scan — filtered search now
    * serves off ALL THREE tiers (float [[Similarity
    * .queryIvfIndexFiltered]], PQ [[Pq.queryIvfPqFiltered]], SQ8
    * here), completing the query-type × tier serving matrix's
    * filtered row. */
  def knnSq8Filtered(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val path = Scratch.reuseDir("sq8_filtered_idx")
    writeSq8Index(vectors, path, metaCols = Seq("label"))
    querySq8IndexFiltered(spark, path, vectors,
      0L until Similarity.NQueries.toLong)
  }

  /** Serving scan over the int8 codes (key `knn_sq8`) — the search
    * path the [[quantizeCodesOn]] storage tier was missing (r14
    * verdict item 1): top-k cosine neighbors answered from the
    * COMPRESSED corpus. The scan reads codes (4 B/dim as stored ints;
    * byte-packed on disk — ~8× under the float64-widened scan, 4×
    * under float32), decodes each candidate IN the kernel against the
    * d-row ranges artifact (embedded as literal arrays — pure
    * codegen: element_at on a constant array + the affine dequant),
    * scores the decoded vector against the broadcast EXACT query set,
    * keeps per-partition lossless top-`rerank` heaps (the
    * knn_bruteforce cut), and exact-reranks only the Rerank·Q
    * candidate sliver against the float corpus.
    *
    * Where [[Pq]] compresses harder (M code ids per vector) but
    * approximates by codebook cell, SQ8 keeps per-dimension geometry:
    * |x − deq| ≤ span/510 per coordinate, so the approximate cosine
    * ranking is near-exact and the rerank recovers the rest —
    * recall vs brute-force is spec-asserted ([[knnSq8On]] ≥ 0.9; in
    * practice ~1.0). Determinism end-to-end: the decode is the exact
    * [[vecQuantizeOn]] arithmetic (oracle-proven replayable), dots
    * and norms are the sequential folds every ANN oracle shares, and
    * ties break on vec_id — hence the full-replay hash oracle
    * [[knnSq8OracleSql]].
    *
    * 100 TB: ONE narrow scan of the codes column (the serving corpus
    * a deployment actually persists), broadcast queries, heap cut
    * before any shuffle, Rerank·Q point lookups on the float corpus —
    * the same shape that makes knn_bruteforce scan-bound, at the
    * compressed scan's byte cost. */
  def knnSq8(spark: SparkSession, dir: String, k: Int = Similarity.K): DataFrame =
    knnSq8On(Tables.embeddings(spark, dir), k)

  def knnSq8On(vectors: DataFrame, k: Int = Similarity.K,
               rerank: Int = Pq.Rerank): DataFrame = {
    val rg = quantizerRanges(vectors)
      .orderBy(col("pos")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    if (rg.isEmpty)
      // empty corpus: empty result, schema-stable (knnLsh precedent)
      return vectors.limit(0).select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        lit(0).as("rank"), lit(0.0).as("cosine"))
    // the staged codes ARE the serving corpus: the scan below reads
    // this parquet, not the float source (build-once/query-many)
    val codes = Scratch.stageReuse(quantizeCodesOn(vectors), "sq8_codes")
    sq8Scan(codes, rg, vectors, col("vec_id") < Similarity.NQueries, k, rerank)
  }

  /** The one SQ8 search scan, shared by the in-memory driver key and
    * the staged-index query path: decode-in-kernel over `codes`
    * against the collected `rg` ranges (literal arrays), approximate
    * cosine vs the broadcast query rows selected by `queryPred` from
    * the float corpus, lossless per-partition top-`rerank` heaps,
    * exact rerank. */
  /** In-kernel dequant of a codes frame against the collected d-row
    * ranges (embedded as literal arrays — pure codegen): the exact
    * [[vecQuantizeOn]] arithmetic per element ((c+128)·span/255 off
    * the dimension's mn), degenerate dimensions decode to mn. Keeps
    * every non-`codes` input column (the IVF variant's cell, the
    * staged layout's grp) and appends `de`/`dn`. ONE definition for
    * the flat scan, the IVF scan, and the radius scan — the staged
    * paths are spec-equated to the one-shot keys (r16-advice class). */
  private def dequantized(codes: DataFrame,
                          rg: Array[(Long, Double, Double)]): DataFrame = {
    val mnA = array(rg.map(t => lit(t._2)): _*)
    val mxA = array(rg.map(t => lit(t._3)): _*)
    val de = transform(col("codes"), (c, i) => {
      val mn = element_at(mnA, i + 1)
      val mx = element_at(mxA, i + 1)
      when(mx === mn, mn)
        .otherwise(mn + ((c + lit(128)).cast("double") * (mx - mn)) / lit(Steps))
    })
    val keep = codes.columns.filterNot(_ == "codes").map(col)
    codes.select((keep :+ de.as("de")): _*)
      .withColumn("dn", V.l2Norm(col("de")))
  }

  private def sq8Scan(codes: DataFrame, rg: Array[(Long, Double, Double)],
                      vectors: DataFrame, queryPred: Column,
                      k: Int, rerank: Int): DataFrame = {
    val decoded = dequantized(codes, rg)
    val vn = vectors
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", V.l2Norm(col("e")))
    val queries = broadcast(vn.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm")))
    val scored = decoded.join(queries, col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        V.cosineWithNorms(V.dot(col("de"), col("qe")), col("dn"), col("qnrm"))
          .as("cosine"))
    val cw = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val cand = broadcast(Similarity.partitionTopK(scored, rerank)
      .withColumn("crk", row_number().over(cw))
      .filter(col("crk") <= rerank)
      .select(col("query_id"), col("vec_id")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    cand.join(vn, "vec_id").join(queries, "query_id")
      .select(col("query_id"), col("vec_id"),
        V.cosineWithNorms(V.dot(col("e"), col("qe")), col("nrm"), col("qnrm"))
          .as("cosine"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Full DuckDB replay of the SQ8 search: the [[vecQuantizeOracleSql]]
    * grid re-derived (ranges → codes → decode), approximate-cosine
    * candidate ranking against the exact query vectors, top-Rerank
    * cut, exact rerank — every double the same IEEE op both engines.
    * Dim pinned to the driver corpus's 64 (the LSH oracle precedent).
    * `(q+128)` in the decode collapses: the code is
    * `floor(t+0.5)−128`, so the decoded step count is the floor value
    * itself — the SQL uses it directly where the executor adds 128
    * back to the stored int8 code (same integer, exact both ways). */
  /** The shared SQ8 replay prefix (v/vn + the grid re-derivation +
    * decode): `den` is the decoded corpus with norms — the point every
    * SQ8 oracle tail (top-k, erased top-k, radius) starts from. */
  private def sq8DecodeCtes: String = sq8DecodeCtesFor(trained = false)

  /** `trained = true` derives the grid from the day-0 base slice only
    * (`vec_id <= max/2`) and SATURATES the decoded step count to the
    * grid ends — exactly [[quantizeCodesAgainst]]'s clamp on the int8
    * code (the executor clamps `floor(t+0.5)−128` to [−128,127]; the
    * replay clamps the unshifted `floor(t+0.5)` to [0,255] — the same
    * integer). With `trained = false` this emits the classic prefix
    * byte-for-byte (no clamp text: in-span values make it the
    * identity, but the hash gate wants string stability). */
  private def sq8DecodeCtesFor(trained: Boolean): String = {
    import Similarity.sqlNorm
    val cutCte =
      if (!trained) ""
      else "cutv AS (\n  SELECT MAX(vec_id) // 2 AS cut FROM embeddings\n), "
    val rgFrom =
      if (!trained) "el"
      else "el WHERE vec_id <= (SELECT cut FROM cutv)"
    val stepExpr =
      if (!trained)
        s"""CAST(CAST(FLOOR(((el.x - rg.mn) * 255.0)
           |           / (rg.mx - rg.mn) + 0.5) AS BIGINT) AS DOUBLE)""".stripMargin
      else
        s"""CAST(GREATEST(0, LEAST(255, CAST(FLOOR(((el.x - rg.mn) * 255.0)
           |           / (rg.mx - rg.mn) + 0.5) AS BIGINT))) AS DOUBLE)""".stripMargin
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), vn AS (
       |  SELECT vec_id, e, ${sqlNorm("e")} AS nrm FROM v
       |), ${cutCte}el AS (
       |  SELECT e.vec_id, p.pos, CAST(e.embedding[p.pos] AS DOUBLE) AS x
       |  FROM embeddings e
       |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) p
       |  WHERE e.embedding IS NOT NULL
       |), rg AS (
       |  SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM $rgFrom GROUP BY pos
       |), dq AS (
       |  SELECT el.vec_id, el.pos,
       |    CASE WHEN rg.mx = rg.mn THEN rg.mn
       |         ELSE rg.mn + ($stepExpr
       |           * (rg.mx - rg.mn)) / 255.0
       |    END AS deq
       |  FROM el JOIN rg ON el.pos = rg.pos
       |), den AS (
       |  SELECT vec_id, de, ${sqlNorm("de")} AS dn FROM (
       |    SELECT vec_id, list(deq ORDER BY pos) AS de FROM dq GROUP BY vec_id) t
       |)""".stripMargin
  }

  /** The flat-scan top-k replay; `erasedPred` (over the candidate
    * alias `c`) drops erased ids at candidate enumeration — the
    * knn_sq8_delete twin. `filtered = true` rides the label through
    * candidate enumeration (same-label ranking — the predicate the
    * executor evaluates inside the decode scan) and onto the output.
    * With neither this is the classic knn_sq8 replay byte-for-byte. */
  private def sq8OracleSqlFor(erasedPred: String = null,
                              filtered: Boolean = false,
                              trained: Boolean = false): String = {
    import Similarity.{sqlDot, NQueries, K}
    val labCte =
      if (filtered) ", lab AS (\n  SELECT vec_id, label FROM embeddings\n)"
      else ""
    val labJoins =
      if (filtered)
        s"""
           |    JOIN lab cl ON c.vec_id = cl.vec_id
           |    JOIN lab ql ON q.vec_id = ql.vec_id AND cl.label = ql.label""".stripMargin
      else ""
    s"""${sq8DecodeCtesFor(trained)}$labCte, cand AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("c.de", "q.e")} / (c.dn * q.nrm) DESC, c.vec_id) AS crk
       |    FROM den c JOIN vn q ON q.vec_id < $NQueries AND c.vec_id != q.vec_id$labJoins${
             if (erasedPred == null) "" else s"\n    WHERE NOT ($erasedPred)"}) t
       |  WHERE crk <= ${Pq.Rerank}
       |)
       |SELECT query_id, vec_id AS neighbor_id,${
           if (filtered) " label," else ""} CAST(rk AS INTEGER) AS rank, cosine FROM (
       |  SELECT cd.query_id, cd.vec_id,${
           if (filtered) " lo.label," else ""}
       |    ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY cd.query_id ORDER BY
       |      ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) DESC, cd.vec_id) AS rk
       |  FROM cand cd
       |  JOIN vn b ON cd.vec_id = b.vec_id
       |  JOIN vn a ON cd.query_id = a.vec_id${
           if (!filtered) ""
           else "\n  JOIN lab lo ON cd.vec_id = lo.vec_id"}) t
       |WHERE rk <= $K""".stripMargin
  }

  val knnSq8OracleSql: String = sq8OracleSqlFor()

  /** Driver query (key `knn_sq8_append`): the scalar tier's
    * incremental-maintenance lifecycle at the cross-engine gate —
    * day-0 grid trained on the base half ([[writeSq8Index]]), the
    * rest [[appendSq8Index]]-encoded against that FROZEN grid
    * (saturating at the ends), staged top-k query over everything.
    * The oracle re-derives the grid from the base slice and decodes
    * every vector against it with the same saturation, so a hash
    * match checks the frozen-grid append arithmetic itself —
    * including the clamp, which only an appended out-of-span value
    * exercises. */
  def knnSq8Append(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val cut = vectors.agg(max(col("vec_id"))).collect()(0).getLong(0) / 2
    val path = Scratch.reuseDir("sq8_append_idx")
    writeSq8Index(vectors.filter(col("vec_id") <= cut), path)
    appendSq8Index(spark, path, vectors.filter(col("vec_id") > cut))
    querySq8Index(spark, path, vectors,
      0L until Similarity.NQueries.toLong)
  }

  /** The append replay (key `knn_sq8_append`): grid from the base
    * slice, decode of EVERY vector against it with the executor's
    * end-saturation, classic candidate cut + exact rerank. */
  val knnSq8AppendOracleSql: String = sq8OracleSqlFor(trained = true)

  /** The filtered replay (key `knn_sq8_filtered`): the flat SQ8
    * search with the `lab` CTE joined on both sides of candidate
    * enumeration — the same-label ranking the executor computes with
    * the label riding the code rows. */
  val knnSq8FilteredOracleSql: String = sq8OracleSqlFor(filtered = true)

  /** The erasure replay: candidates exclude [[Pq.DeleteLo]]..
    * [[Pq.DeleteHi]]; grid, decode, and every surviving code as
    * built. */
  val knnSq8DeleteOracleSql: String =
    sq8OracleSqlFor(s"c.vec_id BETWEEN ${Pq.DeleteLo} AND ${Pq.DeleteHi}")

  /** The radius replay: the decode prefix, candidates admitted on the
    * APPROXIMATE cosine clearing τ, the exact verify on the true
    * cosine — both thresholds strtod-embedded. */
  val knnSq8RadiusOracleSql: String = {
    import Similarity.{sqlDot, NQueries, RadiusTau}
    s"""$sq8DecodeCtes, cand AS (
       |  SELECT q.vec_id AS query_id, c.vec_id
       |  FROM den c JOIN vn q ON q.vec_id < $NQueries AND c.vec_id != q.vec_id
       |  WHERE ${sqlDot("c.de", "q.e")} / (c.dn * q.nrm)
       |        >= CAST('$RadiusTau' AS DOUBLE)
       |)
       |SELECT query_id, neighbor_id, cosine FROM (
       |  SELECT cd.query_id, cd.vec_id AS neighbor_id,
       |    ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) AS cosine
       |  FROM cand cd
       |  JOIN vn b ON cd.vec_id = b.vec_id
       |  JOIN vn a ON cd.query_id = a.vec_id) t
       |WHERE cosine >= CAST('$RadiusTau' AS DOUBLE)""".stripMargin
  }

  /** The filtered-radius replay (key `knn_sq8_radius_filtered`): the
    * radius replay with the `lab` CTE joined on both sides of
    * candidate admission, label carried onto the verify output. */
  val knnSq8RadiusFilteredOracleSql: String = {
    import Similarity.{sqlDot, NQueries, RadiusTau}
    s"""$sq8DecodeCtes, lab AS (
       |  SELECT vec_id, label FROM embeddings
       |), cand AS (
       |  SELECT q.vec_id AS query_id, c.vec_id
       |  FROM den c JOIN vn q ON q.vec_id < $NQueries AND c.vec_id != q.vec_id
       |  JOIN lab cl ON c.vec_id = cl.vec_id
       |  JOIN lab ql ON q.vec_id = ql.vec_id AND cl.label = ql.label
       |  WHERE ${sqlDot("c.de", "q.e")} / (c.dn * q.nrm)
       |        >= CAST('$RadiusTau' AS DOUBLE)
       |)
       |SELECT query_id, neighbor_id, label, cosine FROM (
       |  SELECT cd.query_id, cd.vec_id AS neighbor_id, lo.label,
       |    ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) AS cosine
       |  FROM cand cd
       |  JOIN vn b ON cd.vec_id = b.vec_id
       |  JOIN vn a ON cd.query_id = a.vec_id
       |  JOIN lab lo ON cd.vec_id = lo.vec_id) t
       |WHERE cosine >= CAST('$RadiusTau' AS DOUBLE)""".stripMargin
  }

  /** IVF-pruned SQ8 search (key `knn_ivf_sq8`) — the composed layout
    * (FAISS `IndexIVFScalarQuantizer`): the coarse quantizer routes
    * each query to its nprobe nearest cells, and the decode-in-kernel
    * scan pays dequant+cosine work ONLY for codes in probed cells —
    * [[knnSq8On]]'s compressed scan with [[Pq.knnIvfPqOn]]'s pruning,
    * completing the serving matrix {flat, IVF} × {float, SQ8, PQ}.
    * Where IVFADC compresses harder (M code ids) and approximates by
    * codebook cell, IVF-SQ8 keeps per-dimension geometry at 1 byte/dim
    * — the middle rung deployments pick when PQ's recall is too lossy
    * for the rerank budget and the float scan too expensive.
    *
    * 100 TB: on a deployment the codes live in cell=<id> partition
    * directories (the [[Pq.writeIvfPqIndex]] layout — here the staged
    * frame carries the cell column; the probe prunes to ~nprobe/C of
    * the compressed corpus), queries broadcast, the heap cut bounds
    * the ranking shuffle, and the exact rerank touches Rerank·Q float
    * rows. Both building blocks replay bit-exactly, so the
    * composition carries a full hash oracle (the knn_ivf_pq
    * composition argument: pruning only restricts the candidate set). */
  def knnIvfSq8(spark: SparkSession, dir: String, k: Int = Similarity.K): DataFrame =
    knnIvfSq8On(Tables.embeddings(spark, dir), k)

  def knnIvfSq8On(vectors: DataFrame, k: Int = Similarity.K,
                  rerank: Int = Pq.Rerank,
                  nprobe: Int = Similarity.IvfNProbe): DataFrame = {
    val rg = quantizerRanges(vectors)
      .orderBy(col("pos")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    if (rg.isEmpty)
      return vectors.limit(0).select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        lit(0).as("rank"), lit(0.0).as("cosine"))
    val (indexed, centroids) =
      Similarity.ivfIndex(vectors, 0, "ivf_centroids_knn_ivf_sq8")
    // the serving frame: cell-tagged int8 codes, staged once — a
    // deployment writes these as cell partition directories so the
    // probe prunes files; here the staged parquet carries the column
    val codes = Scratch.stageReuse(
      quantizeCodesOn(vectors)
        .join(indexed.select(col("vec_id"), col("cell")), "vec_id"),
      "ivf_sq8_codes")
    val decoded = dequantized(codes, rg)
    val vn = vectors
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", V.l2Norm(col("e")))
    val queries = vn.filter(col("vec_id") < Similarity.NQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm"))
    val probes = Similarity.probeCells(queries, centroids, nprobe)
    val scored = decoded.join(probes, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        V.cosineWithNorms(V.dot(col("de"), col("qe")), col("dn"), col("qnrm"))
          .as("cosine"))
    val cw = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val cand = broadcast(Similarity.partitionTopK(scored, rerank)
      .withColumn("crk", row_number().over(cw))
      .filter(col("crk") <= rerank)
      .select(col("query_id"), col("vec_id")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    cand.join(vn, "vec_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("vec_id"),
        V.cosineWithNorms(V.dot(col("e"), col("qe")), col("nrm"), col("qnrm"))
          .as("cosine"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  // --- composed IVF-SQ8 durable serving split -------------------------
  // The last tier composition without one (float, PQ, OPQ, and flat
  // SQ8 all stage durably): centroids + ranges + CELL-partitioned int8
  // codes. The codes tree is byte-shaped like the PQ tier's
  // (vec_id, codes, cell=<id> partition dirs), so erasure IS
  // [[Pq.deleteFromIvfPqIndex]] and probes prune whole directories.

  /** Stage the composed index durably. `trainOn` (null = `vectors`)
    * decouples training (Lloyd centroids + the quantizer grid) from
    * indexing — `writeIvfSq8Index(a ∪ b, trainOn = a)` equals
    * `writeIvfSq8Index(a)` + [[appendIvfSq8Index]]`(b)` bit-for-bit
    * (spec), the incremental-lifecycle equation every tier holds.
    * Codes are encoded against the STAGED ranges read back from
    * parquet (exact double round-trip — artifact and codes can never
    * drift) and land via the tmp+rename swap (the
    * [[Pq.writeIvfPqIndex]] recovery discipline). Restaging a LIVE
    * index goes through [[stageIvfSq8IndexVersion]] instead —
    * centroids, grid, and codes flip together (r17 advice). */
  def writeIvfSq8Index(vectors: DataFrame, path: String,
                       metaCols: Seq[String] = Seq.empty,
                       trainOn: DataFrame = null): Unit = {
    val spark = vectors.sparkSession
    val train = Option(trainOn).getOrElse(vectors)
    val (indexed, centroids) =
      Similarity.ivfIndex(train, 0, "ivf_centroids_write_ivf_sq8")
    centroids.write.mode("overwrite").parquet(s"$path/centroids")
    quantizerRanges(train).write.mode("overwrite").parquet(s"$path/ranges")
    val stagedRg = IndexManifest.readFrame(spark, path, "ranges")
    // the INDEXED corpus: when training is decoupled, assign every
    // corpus vector to the trained centroids (the append arithmetic)
    val cellOf =
      if (trainOn == null) indexed.select(col("vec_id"), col("cell"))
      else {
        val vAll = vectors
          .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
          .withColumn("nrm", V.l2Norm(col("e")))
        Similarity.assignNearest(vAll, centroids, "cell", "ce", "cn")
          .select(col("vec_id"), col("cell"))
      }
    val codes = quantizeCodesAgainst(vectors, stagedRg,
      dim = Some(stagedRg.count())).join(cellOf, "vec_id")
    val withMeta =
      if (metaCols.isEmpty) codes
      else codes.join(
        vectors.select((Seq("vec_id") ++ metaCols).map(col): _*), "vec_id")
    val codesPath = new org.apache.hadoop.fs.Path(s"$path/codes")
    val tmpPath = new org.apache.hadoop.fs.Path(s"$path/codes_tmp")
    val fs = codesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(tmpPath, true)
    withMeta.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(tmpPath.toString)
    fs.delete(codesPath, true)
    if (!fs.rename(tmpPath, codesPath))
      throw new IllegalStateException(
        s"writeIvfSq8Index: rename $tmpPath -> $codesPath failed; " +
          s"the new codes tree is intact at $tmpPath")
  }

  /** Query the staged composed index: probes off the C-row centroid
    * artifact (the SAME [[Similarity.probeCells]] frame the one-shot
    * key ranks with — staged answers are bit-identical, spec), a
    * STATICALLY cell-pruned decode scan over the persisted codes
    * (partition-directory pruning — the IO cut the layout exists
    * for), heap cut, exact rerank against the float corpus. */
  def queryIvfSq8Index(spark: SparkSession, path: String,
                       vectors: DataFrame, queryIds: Seq[Long],
                       k: Int = Similarity.K, rerank: Int = Pq.Rerank,
                       nprobe: Int = Similarity.IvfNProbe): DataFrame = {
    val rg = IndexManifest.readFrame(spark, path, "ranges")
      .orderBy(col("pos")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    if (rg.isEmpty)
      return vectors.limit(0).select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        lit(0).as("rank"), lit(0.0).as("cosine"))
    val vn = vectors
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", V.l2Norm(col("e")))
    val queries = broadcast(vn.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm")))
    val centroids = IndexManifest.readFrame(spark, path, "centroids")
    val probes = Similarity.probeCells(queries, centroids, nprobe)
    // bounded driver collect (Q·nprobe rows) so the cell cut reaches
    // the scan as a STATIC partition filter, not a runtime join
    val probedCells = probes.select(col("cell").cast("long"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val pruned = Pq.pinnedCodes(IndexManifest.readFrame(spark, path, "codes"))
      .filter(col("cell").isInCollection(probedCells))
      .select(col("vec_id"), col("cell"), col("codes"))
    val decoded = dequantized(pruned, rg)
    val scored = decoded.join(probes, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        V.cosineWithNorms(V.dot(col("de"), col("qe")), col("dn"), col("qnrm"))
          .as("cosine"))
    val cw = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    val cand = broadcast(Similarity.partitionTopK(scored, rerank)
      .withColumn("crk", row_number().over(cw))
      .filter(col("crk") <= rerank)
      .select(col("query_id"), col("vec_id")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    cand.join(vn, "vec_id").join(queries, "query_id")
      .select(col("query_id"), col("vec_id"),
        V.cosineWithNorms(V.dot(col("e"), col("qe")), col("nrm"), col("qnrm"))
          .as("cosine"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Durable append on the composed index: assign (frozen centroids,
    * float space) + quantize (frozen staged grid, end-saturating) the
    * new vectors, append only their cell-clustered code files —
    * O(|new|), never O(index). Riding metadata derives from the index
    * schema and is required of the batch (the tier-wide discipline);
    * a mis-dimensioned batch fails in-plan at the grid join / width
    * check. Returns appended code rows. */
  def appendIvfSq8Index(spark: SparkSession, path: String,
                        newVectors: DataFrame): Long = {
    val staged = Scratch.stageReuse(
      ivfSq8AppendBatch(spark, path,
        IndexManifest.readFrame(spark, path, "codes"), newVectors),
      "ivf_sq8_append_codes")
    staged.repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/codes")
    staged.count()
  }

  /** The composed append's arithmetic alone — assign (frozen
    * centroids) + quantize (frozen staged grid) with riding metadata,
    * as an unmaterialized code frame. Shared by the in-place fast
    * path and the manifest-atomic form; `codes` is the opened codes
    * frame of the index at `path`. */
  private def ivfSq8AppendBatch(spark: SparkSession, path: String,
                                codes: DataFrame,
                                newVectors: DataFrame): DataFrame = {
    val centroids = IndexManifest.readFrame(spark, path, "centroids")
    val stagedRg = IndexManifest.readFrame(spark, path, "ranges")
    val riding = codes.columns.toSeq
      .filterNot(Set("vec_id", "codes", "cell"))
    riding.foreach(c => require(newVectors.columns.contains(c),
      s"appendIvfSq8Index: the staged codes ride metadata column '$c' " +
        s"but the batch lacks it — appends must carry the index's riding set"))
    val vNew = newVectors
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", V.l2Norm(col("e")))
    val assigned = Similarity.assignNearest(vNew, centroids, "cell", "ce", "cn")
      .select(col("vec_id"), col("cell"))
    val encoded = quantizeCodesAgainst(newVectors, stagedRg,
      dim = Some(stagedRg.count())).join(assigned, "vec_id")
    if (riding.isEmpty) encoded
    else encoded.join(
      newVectors.select((Seq("vec_id") ++ riding).map(col): _*), "vec_id")
  }

  /** Stage a flat SQ8 index as version 1 of a manifest-rooted index —
    * the atomic-lifecycle entry point (and the live-restage path: the
    * ranges artifact and codes flip together). */
  def stageSq8IndexVersion(vectors: DataFrame, root: String,
                           metaCols: Seq[String] = Seq.empty): String =
    IndexManifest.publish(vectors.sparkSession, root)(
      dir => writeSq8Index(vectors, dir, metaCols))

  /** Stage a composed IVF-SQ8 index as version 1 of a manifest-rooted
    * index — the atomic-lifecycle entry point (and the live-restage
    * path: centroids, grid, and codes flip together — the multi-frame
    * residual the in-place writer documents). */
  def stageIvfSq8IndexVersion(vectors: DataFrame, root: String,
                              metaCols: Seq[String] = Seq.empty,
                              trainOn: DataFrame = null): String =
    IndexManifest.publish(vectors.sparkSession, root)(
      dir => writeIvfSq8Index(vectors, dir, metaCols, trainOn))

  /** ATOMIC composed append: the batch through
    * [[IndexManifest.appendRowsAtomic]] on a manifest-rooted index —
    * the PQ tier's atomic contract on the IVF-SQ8 layout. */
  def appendIvfSq8IndexAtomic(spark: SparkSession, root: String,
                              newVectors: DataFrame, keep: Int = 2): Long = {
    val live = IndexManifest.currentOrFail(spark, root)
    val liveCodes = IndexManifest.readFrame(spark, live, "codes")
    IndexManifest.appendRowsAtomic(spark, root, live, liveCodes, "codes",
      "cell", ivfSq8AppendBatch(spark, live, liveCodes, newVectors), keep)
  }

  /** ATOMIC composed erasure — the codes tree is the PQ layout
    * byte-for-byte, so this IS [[Pq.deleteFromIvfPqIndexAtomic]]. */
  def deleteFromIvfSq8IndexAtomic(spark: SparkSession, root: String,
                                  vecIds: Seq[Long], keep: Int = 2): Long =
    Pq.deleteFromIvfPqIndexAtomic(spark, root, vecIds, keep)

  /** Per-cell health report of a staged composed index — the same
    * shared aggregate as every tier ([[Similarity.cellStatsOf]]; r18
    * verdict item 4): the SQ8 grid never skews (it is per-dimension),
    * but the coarse cells under appends do, identically to the float
    * postings. */
  def ivfSq8IndexStats(spark: SparkSession, path: String,
                       appendedFrom: Long): DataFrame =
    Similarity.cellStatsOf(
      Pq.pinnedCodes(IndexManifest.readFrame(spark, path, "codes")),
      IndexManifest.readFrame(spark, path, "centroids"), appendedFrom)

  /** Retrain a drifted MANIFEST-rooted composed index: re-run
    * [[writeIvfSq8Index]] — fresh centroids AND a fresh ranges grid —
    * over `corpus` (the declared float source; int8 codes are lossy),
    * published as a new version behind `keep`. Same fence as every
    * retrain: drain streaming appenders first. Post-rebalance answers
    * equal a fresh build over the corpus bit-for-bit (deterministic
    * pipeline; spec-asserted). */
  def rebalanceIvfSq8IndexVersioned(spark: SparkSession, root: String,
                                    corpus: DataFrame,
                                    keep: Int = 2): String = {
    val live = IndexManifest.currentOrFail(spark, root)
    val meta = IndexManifest.readFrame(spark, live, "codes").columns.toSeq
      .filterNot(Set("vec_id", "cell", "codes"))
    // publishRetrain = the ENFORCED fence (r19 verdict item 1): refuses
    // while un-flushed streaming-pending rows exist, and advances the
    // retrain epoch the ingest sink's claim check is keyed by
    IndexManifest.publishRetrain(spark, root, keep)(
      dir => writeIvfSq8Index(corpus, dir, meta))
  }

  /** Erasure on the composed index: the codes tree is the PQ layout
    * byte-for-byte (vec_id, codes, cell=<id> dirs), so this IS
    * [[Pq.deleteFromIvfPqIndex]] — only cell directories holding an
    * erased id are rewritten; centroids and the grid (trained
    * aggregates) stand. */
  def deleteFromIvfSq8Index(spark: SparkSession, path: String,
                            vecIds: Seq[Long]): Long =
    Pq.deleteFromIvfPqIndex(spark, path, vecIds)

  /** Full DuckDB replay of the composed IVF-SQ8 search: the shared
    * IVF-build prefix (cells per vector), the [[knnSq8OracleSql]]
    * grid/decode CTEs, probes, candidate enumeration restricted to
    * probed cells, approximate-cosine cut, exact rerank. */
  val knnIvfSq8OracleSql: String = {
    import Similarity.{sqlDot, NQueries, K, IvfNProbe}
    s"""${Similarity.ivfIdxOraclePrefix}, el AS (
       |  SELECT e.vec_id, p.pos, CAST(e.embedding[p.pos] AS DOUBLE) AS x
       |  FROM embeddings e
       |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) p
       |  WHERE e.embedding IS NOT NULL
       |), rg AS (
       |  SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM el GROUP BY pos
       |), dq AS (
       |  SELECT el.vec_id, el.pos,
       |    CASE WHEN rg.mx = rg.mn THEN rg.mn
       |         ELSE rg.mn + (CAST(CAST(FLOOR(((el.x - rg.mn) * 255.0)
       |           / (rg.mx - rg.mn) + 0.5) AS BIGINT) AS DOUBLE)
       |           * (rg.mx - rg.mn)) / 255.0
       |    END AS deq
       |  FROM el JOIN rg ON el.pos = rg.pos
       |), den AS (
       |  SELECT vec_id, de, ${Similarity.sqlNorm("de")} AS dn FROM (
       |    SELECT vec_id, list(deq ORDER BY pos) AS de FROM dq GROUP BY vec_id) t
       |), probes AS (
       |  SELECT query_id, qe, qnrm, cell FROM (
       |    SELECT q.vec_id AS query_id, q.e AS qe, q.nrm AS qnrm, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${sqlDot("q.e", "c.ce")} / (q.nrm * c.cnr) DESC, c.cell) AS rk
       |    FROM vn q CROSS JOIN cc c WHERE q.vec_id < $NQueries) t
       |  WHERE rk <= $IvfNProbe
       |), cand AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT p.query_id, d.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY
       |        ${sqlDot("d.de", "p.qe")} / (d.dn * p.qnrm) DESC, d.vec_id) AS crk
       |    FROM den d
       |    JOIN idx i ON d.vec_id = i.vec_id
       |    JOIN probes p ON i.cell = p.cell
       |    WHERE d.vec_id != p.query_id) t
       |  WHERE crk <= ${Pq.Rerank}
       |)
       |SELECT query_id, vec_id AS neighbor_id, CAST(rk AS INTEGER) AS rank, cosine FROM (
       |  SELECT cd.query_id, cd.vec_id,
       |    ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY cd.query_id ORDER BY
       |      ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) DESC, cd.vec_id) AS rk
       |  FROM cand cd
       |  JOIN vn b ON cd.vec_id = b.vec_id
       |  JOIN vn a ON cd.query_id = a.vec_id) t
       |WHERE rk <= $K""".stripMargin
  }

  /** The d-row quantizer artifact: per-dimension corpus min/max. */
  def quantizerRanges(vectors: DataFrame): DataFrame =
    vectors
      .filter(col("embedding").isNotNull)
      .select(posexplode(V.toDouble(col("embedding"))).as(Seq("p0", "x")))
      .select((col("p0") + 1).cast("long").as("pos"), col("x"))
      .groupBy(col("pos"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))

  def vecQuantizeOn(vectors: DataFrame): DataFrame = {
    val elems = vectors
      .filter(col("embedding").isNotNull)
      .select(posexplode(V.toDouble(col("embedding"))).as(Seq("p0", "x")))
      .select((col("p0") + 1).cast("long").as("pos"), col("x"))
    val ranges = quantizerRanges(vectors)
    val span: Column = col("mx") - col("mn")
    val q: Column = when(col("mx") === col("mn"), lit(0L))
      .otherwise(
        floor(((col("x") - col("mn")) * lit(Steps)) / span + lit(0.5)) - lit(128L))
    val deq: Column = when(col("mx") === col("mn"), col("mn"))
      .otherwise(
        col("mn") + ((col("q") + lit(128L)).cast("double") * span) / lit(Steps))
    elems.join(broadcast(ranges), "pos")
      .withColumn("q", q)
      .withColumn("deq", deq)
      .withColumn("err", abs(col("x") - col("deq")))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"),
        min(col("mn")).as("mn"),
        min(col("mx")).as("mx"),
        sum(col("q")).as("sum_q"),
        (sum(floor(col("err") * lit(1e12) + lit(0.5))).cast("double") /
          (count(lit(1)).cast("double") * lit(1e12))).as("mean_abs_err"),
        max(col("err")).as("max_err"))
  }

  /** DuckDB replay: the same affine grid, IEEE-double arithmetic in
    * the same parenthesization, integer-unit-accumulated error mean
    * (floor(err·10¹²+0.5) — both engines floor the same double). The
    * 1-based `pos` comes from generate_series so both engines emit
    * BIGINT; DuckDB's integer SUM widens to HUGEINT, hence the
    * explicit BIGINT casts on the integer sums. */
  val vecQuantizeOracleSql: String =
    """WITH el AS (
      |  SELECT p.pos, CAST(e.embedding[p.pos] AS DOUBLE) AS x
      |  FROM embeddings e
      |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) p
      |  WHERE e.embedding IS NOT NULL
      |), rg AS (
      |  SELECT pos, MIN(x) AS mn, MAX(x) AS mx FROM el GROUP BY pos
      |), qz AS (
      |  SELECT el.pos, el.x, rg.mn, rg.mx,
      |    CASE WHEN rg.mx = rg.mn THEN 0
      |         ELSE CAST(FLOOR(((el.x - rg.mn) * 255.0) / (rg.mx - rg.mn) + 0.5) AS BIGINT) - 128
      |    END AS q
      |  FROM el JOIN rg ON el.pos = rg.pos
      |), dq AS (
      |  SELECT pos, x, mn, mx, q,
      |    CASE WHEN mx = mn THEN mn
      |         ELSE mn + (CAST(q + 128 AS DOUBLE) * (mx - mn)) / 255.0
      |    END AS deq
      |  FROM qz
      |)
      |SELECT pos, COUNT(*) AS n, MIN(mn) AS mn, MIN(mx) AS mx,
      |  CAST(SUM(q) AS BIGINT) AS sum_q,
      |  CAST(CAST(SUM(CAST(FLOOR(ABS(x - deq) * 1000000000000.0 + 0.5) AS BIGINT))
      |    AS BIGINT) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0)
      |    AS mean_abs_err,
      |  MAX(ABS(x - deq)) AS max_err
      |FROM dq GROUP BY pos""".stripMargin
}
