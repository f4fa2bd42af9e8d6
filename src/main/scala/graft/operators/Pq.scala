package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Divide, EvalMode, Literal, Multiply, NumericEvalContext}
import org.apache.spark.sql.catalyst.util.{ArrayData, SQLOrderingUtil}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructType}
import graft.sources.Tables
import graft.functions.{VecDot, VectorOps => V}

/** Product-quantization ANN (key `knn_pq`) — the compressed-codes
  * scale path of the similarity tier (SURVEY §2.4), completing the
  * brute-force → LSH-bucketed → IVF-probed → PQ-compressed ladder.
  *
  * Shape: each unit-normalized vector is split into `M` subvectors;
  * per subspace a tiny `Kc`-entry codebook is trained (deterministic
  * seeds + one Lloyd refinement, exactly the IVF build recipe per
  * subspace); every vector is then stored as `M` small code ids. A
  * query scans CODES, not floats: it precomputes a `M×Kc`
  * distance table against the codebooks (squared L2 in the normalized
  * space, so the ordering tracks cosine: |q-x|² = 2-2·cos on unit
  * vectors), sums table lookups per candidate (asymmetric distance
  * computation), and exact-reranks only the top `Rerank` candidates.
  *
  * 100 TB: the corpus-resident structure the ADC scan touches is
  * M small ints per vector — a ~32× compression of a float64-widened
  * 64-dim embedding column, which is the reason PQ is the standard
  * billion-vector memory path. The codebooks (≤ M·Kc rows) and the
  * per-query-batch distance table (≤ Q·M·Kc rows) are bounded-size
  * driver collects shipped to every task in the scan closure; the
  * scan itself is ONE narrow pass over the corpus — encode, ADC
  * lookup-sum, and per-partition Rerank-heaps per query (the
  * knn_bruteforce pruning argument: the global top-Rerank by
  * (adist, vec_id) is a subset of the union of per-partition
  * top-Reranks) — so the only exchange the candidate side pays is
  * partitions·Q·Rerank heap survivors into the final exact window.
  * Queries batch — Q is the throughput knob, and candidate
  * generation work is codes·Q, independent of float width.
  *
  * Determinism (the oracle replays every step bit-for-bit): unit
  * normalization divides by the sequential-fold norm; seeds are the
  * `Kc` lowest vec_ids' subvectors (code id = seed vec_id, the IVF
  * convention); squared distance is the fixed expression
  * ((a·a - 2·(a·b)) + b·b) — 2·x is exact in IEEE — over bit-identical
  * sequential-fold dots; Lloyd means are DECIMAL(30,10)-accumulated;
  * every argmin/rank tie breaks on the code/vec id; the ADC sum folds
  * its M terms in subspace order. */
object Pq {

  /** Subspaces (embedding dim must divide evenly). */
  val M = 8
  /** Codebook entries per subspace. */
  val Kc = 16
  /** ADC candidates per query that get the exact cosine rerank. */
  val Rerank = 40

  import Similarity.{K, NQueries}

  /** Squared L2 distance with a fixed, cross-engine-portable
    * parenthesization: ((a·a − 2·(a·b)) + b·b). */
  private def l2sq(a: Column, b: Column): Column =
    (V.dot(a, a) - lit(2.0) * V.dot(a, b)) + V.dot(b, b)

  /** JVM twin of the [[l2sq]]-argmin: index of the codebook entry
    * nearest to `u[off, off+subW)`. Three independent accumulators in
    * one loop produce the exact bits of three separate sequential
    * folds, so the d2 values equal the column form's; iterating in
    * ascending-code order with strict-< replacement ties to the
    * lowest code — the oracle's (d2, code) row_number convention.
    * `cm` must be sorted by code id. */
  /** JVM twin of the [[l2sq]] column over `u[off, off+subW)` vs `cs`:
    * three independent accumulators in one loop produce the exact
    * bits of three separate sequential folds. */
  private[operators] def d2At(u: Array[Double], off: Int, subW: Int,
      cs: Array[Double]): Double = {
    var aa = 0.0; var ab = 0.0; var bb = 0.0
    var i = 0
    while (i < subW) {
      val av = u(off + i); val bv = cs(i)
      aa += av * av; ab += av * bv; bb += bv * bv
      i += 1
    }
    (aa - 2.0 * ab) + bb
  }

  private[operators] def argminCode(u: Array[Double], off: Int, subW: Int,
      cm: Array[(Long, Array[Double])]): Int = {
    var best = -1
    var bestD = 0.0
    var kk = 0
    while (kk < cm.length) {
      val d2 = d2At(u, off, subW, cm(kk)._2)
      if (best < 0 || d2 < bestD) { best = kk; bestD = d2 }
      kk += 1
    }
    best
  }

  def knnPq(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    knnPqOn(Tables.embeddings(spark, dir), k)

  def knnPqOn(vectors: DataFrame, k: Int = K, dim: Int = 0): DataFrame = {
    val d =
      if (dim > 0) dim
      else vectors.select(size(col("embedding")).as("__d"))
        .filter(col("__d").isNotNull).limit(1).collect().headOption match {
        case Some(r) => r.getInt(0)
        case None =>
          // empty corpus: empty result, schema-stable (knnLsh precedent)
          return vectors.limit(0).select(
            col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
            lit(0).as("rank"), lit(0.0).as("cosine"))
      }
    // float → double → unit-normalize (|q-x|² = 2-2cos thereafter)
    val vn = vectors
      .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
      .withColumn("nrm", V.l2Norm(col("e")))
    val un = vn.select(col("vec_id"),
      transform(col("e"), x => x / col("nrm")).as("u"))
    pqAdcSearchOn(un, vn, d, k)
  }

  /** The PQ build + ADC search pipeline over a prepared UNIT frame
    * `un` (vec_id, u: array<double>, any width `d` divisible by M) —
    * exact rerank against the float corpus `vn` (vec_id, e, nrm).
    * Shared verbatim by [[knnPqOn]] (u = the unit-normalized corpus)
    * and [[Opq.knnOpqOn]] (u = the PCA-rotated unit corpus): the
    * rotation changes the GEOMETRY the codebooks train in, nothing
    * about the build/scan/rerank machinery. */
  /** `probes`, when given, makes the corpus pass CELL-PRUNED (the
    * IVFADC cut): `un` must then carry a third `cell` column, vectors
    * in unprobed cells skip encode AND ADC entirely, and each query
    * scores only its own probed cells. The codebook build and every
    * other step are byte-identical to the unpruned scan — pruning
    * only restricts the candidate set (the knn_ivf_pq discipline). */
  private[operators] def pqAdcSearchOn(un: DataFrame, vn: DataFrame,
                                       d: Int, k: Int,
                                       probes: Option[(Map[Long, Set[Long]], Set[Long])] = None)
      : DataFrame = {
    require(d % M == 0, s"PQ input dim $d must be divisible by M=$M")
    val sub = d / M
    val unFlat = if (probes.isEmpty) un else un.select(col("vec_id"), col("u"))

    // query-side subvectors (≤ NQueries rows after pushdown) — the
    // corpus-sized explode this once was is gone: the corpus-side
    // assignment below runs as a JVM argmin inside one narrow pass
    def subvecs(frame: DataFrame): DataFrame = frame
      .select(col("vec_id"), explode(sequence(lit(0), lit(M - 1))).as("m"), col("u"))
      .select(col("vec_id"), col("m"),
        slice(col("u"), col("m") * sub + 1, lit(sub)).as("s"))
    val sv = subvecs(unFlat)

    val spark = un.sparkSession
    import spark.implicits._
    val subW = sub

    // --- codebooks: seeds = the Kc lowest vec_ids' subvectors (code id
    //     = seed vec_id), one Lloyd refinement with decimal-exact means.
    //     The seed table is a bounded collect (≤ Kc rows); the first
    //     assignment is the same JVM argmin loop the search scan uses
    //     (bit-identical to the l2sq column — three independent
    //     sequential-fold accumulators in one loop produce the exact
    //     bits of three separate folds), so the corpus pass emits ONE
    //     slim (m, code, subvec) row per (vector, subspace) straight
    //     into the mean aggregate — the n·M·Kc join blowup an
    //     equivalent min_by-over-join formulation pays (measured 131 s
    //     of a 300 s 100× run) never materializes. The mean itself
    //     stays a Spark decimal(30,10) sum: decimal addition is exact,
    //     hence order-independent, hence any partial-aggregation shape
    //     reproduces the oracle's bits.
    val seedsByM: Array[Array[(Long, Array[Double])]] = {
      val rows = unFlat.orderBy(col("vec_id")).limit(Kc).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1) // argminCode requires ascending-code order
      Array.tabulate(M)(m => rows.map { case (vid, u) =>
        (vid, java.util.Arrays.copyOfRange(u, m * subW, (m + 1) * subW)) })
    }
    val fa = unFlat.as[(Long, Array[Double])].mapPartitions { it =>
      it.flatMap { case (_, u) =>
        (0 until M).iterator.map { m =>
          val cm = seedsByM(m)
          val best = Pq.argminCode(u, m * subW, subW, cm)
          (m, cm(best)._1,
            java.util.Arrays.copyOfRange(u, m * subW, (m + 1) * subW))
        }
      }
    }.toDF("m", "code", "s")
    val cents = fa
      .select(col("m"), col("code"), posexplode(col("s")).as(Seq("pos", "v")))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg((sum(col("v").cast("decimal(30,10)")).cast("double") / count(col("v")))
        .as("mean"))
      .groupBy(col("m"), col("code"))
      .agg(sort_array(collect_list(struct(col("pos"), col("mean")))).as("pm"))
      .select(col("m"), col("code"),
        transform(col("pm"), p => p.getField("mean")).as("cs"))

    // --- search structures: per-query distance table against the
    //     codebooks. Both collects are bounded — cents ≤ M·Kc rows,
    //     dt ≤ NQueries·M·Kc rows — the PQ contract's whole point is
    //     that these are the only non-corpus-resident structures.
    val dt = sv.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("m"), col("s").as("qs"))
      .join(broadcast(cents), "m")
      .select(col("query_id"), col("m"), col("code"),
        l2sq(col("qs"), col("cs")).as("d2"))
    // codebook entries per subspace, sorted by code id: iteration in
    // ascending-code order with strict-< replacement makes the encode
    // argmin tie-break to the lowest code (the min_by/row_number
    // convention in the oracle)
    val centsByM: Array[Array[(Long, Array[Double])]] = {
      val rows = cents.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
      Array.tabulate(M)(m =>
        rows.filter(_._1 == m).sortBy(_._2).map(t => (t._2, t._3)))
    }
    // dt indexed [query][m][code-rank] with the same ascending-code
    // index the encode step produces
    val dtRows = dt.collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val qIds: Array[Long] = dtRows.map(_._1).distinct.sorted
    val dtByQ: Map[Long, Array[Array[Double]]] = qIds.map { q =>
      q -> Array.tabulate(M) { m =>
        val codeIdx = centsByM(m).iterator.map(_._1).zipWithIndex.toMap
        val row = new Array[Double](centsByM(m).length)
        dtRows.iterator.filter(t => t._1 == q && t._2 == m)
          .foreach(t => row(codeIdx(t._3)) = t._4)
        row
      }
    }.toMap

    // --- the ONE corpus pass: encode (argmin per subspace over the
    //     codebook, the same ((a·a − 2·a·b) + b·b) sequential-fold
    //     arithmetic as the l2sq column — three independent
    //     accumulators in one loop produce the exact bits of three
    //     separate folds), ADC sum in subspace order, and a bounded
    //     Rerank-heap per query per partition (lossless pruning:
    //     the global top-Rerank under (adist asc, vec_id asc) is a
    //     subset of the union of per-partition top-Reranks)
    val worstFirst: Ordering[(Long, Long, Double)] =
      Ordering.by(t => (t._3, t._2))
    // a FUNCTION VALUE, not a nested def: a def here compiles to a
    // method on the Pq module, and the mapPartitions lambda would
    // capture the (non-serializable) module instance to call it
    val scanPartition: (Iterator[(Long, Array[Double], Long)],
                        (Long, Long) => Boolean) => Iterator[(Long, Long, Double)] =
        (it, admit) => {
      val heaps = scala.collection.mutable.Map
        .empty[Long, scala.collection.mutable.PriorityQueue[(Long, Long, Double)]]
      val codesBuf = new Array[Int](M)
      it.foreach { case (vid, u, cell) =>
        var encoded = false
        var qi = 0
        while (qi < qIds.length) {
          val q = qIds(qi)
          if (q != vid && admit(q, cell)) {
            if (!encoded) {
              var m = 0
              while (m < M) {
                codesBuf(m) = Pq.argminCode(u, m * subW, subW, centsByM(m))
                m += 1
              }
              encoded = true
            }
            val dtm = dtByQ(q)
            var acc = 0.0
            var mm = 0
            while (mm < M) { acc += dtm(mm)(codesBuf(mm)); mm += 1 }
            val c = (q, vid, acc)
            val h = heaps.getOrElseUpdate(q,
              new scala.collection.mutable.PriorityQueue[(Long, Long, Double)]()(worstFirst))
            if (h.size < Rerank) h.enqueue(c)
            else if (worstFirst.compare(c, h.head) < 0) { h.dequeue(); h.enqueue(c) }
          }
          qi += 1
        }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }
    val pruned = (probes match {
      case None =>
        unFlat.as[(Long, Array[Double])]
          .mapPartitions(it =>
            scanPartition(it.map { case (vid, u) => (vid, u, 0L) },
              (_, _) => true))
      case Some((byQ, probedCells)) =>
        un.as[(Long, Array[Double], Long)]
          .mapPartitions(it =>
            scanPartition(it.filter(t => probedCells.contains(t._3)),
              (q, cell) => byQ(q).contains(cell)))
    }).toDF("query_id", "vec_id", "adist")
    val cw = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("vec_id"))
    val cand = broadcast(pruned.withColumn("crk", row_number().over(cw))
      .filter(col("crk") <= Rerank)
      .select(col("query_id"), col("vec_id")))

    // --- exact cosine rerank over the Rerank·Q candidate sliver
    val queries = broadcast(vn.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm")))
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

  /** Collect each query's probed cells off a built IVF index — the
    * nprobe nearest cells by centroid cosine, as a driver map shipped
    * in scan closures. Bounded: Q·C candidate rows, Q·nprobe
    * survivors. Shared by [[knnIvfPqOn]] and [[Opq.knnIvfOpqOn]].
    * Returns (probed cells per query, the union of probed cells). */
  private[operators] def collectProbes(indexed: DataFrame, centroids: DataFrame,
                                       nprobe: Int = Similarity.IvfNProbe)
      : (Map[Long, Set[Long]], Set[Long]) = {
    val probeW = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist").desc, col("cell"))
    val rows = indexed.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm"))
      .join(broadcast(centroids))
      .withColumn("cdist", V.cosineWithNorms(
        V.dot(col("qe"), col("ce")), col("qnrm"), col("cn")))
      .withColumn("rk", row_number().over(probeW))
      .filter(col("rk") <= nprobe)
      .select(col("query_id"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    (rows.groupBy(_._1).map { case (q, cs) => q -> cs.map(_._2).toSet },
      rows.map(_._2).toSet)
  }

  /** IVF-pruned PQ search (key `knn_ivf_pq`) — the composed IVFADC
    * layout (Jégou et al. 2011, the FAISS `IndexIVFPQ` shape): a
    * coarse quantizer routes each query to its `nprobe` nearest cells,
    * and the PQ code scan pays ADC work ONLY for vectors in probed
    * cells. This is the standard billion-vector serving layout: the
    * inverted file bounds which codes a query touches (~nprobe/C of
    * the corpus), PQ bounds the bytes per touched code (M small ints).
    *
    * 100 TB: on a cluster the lake would be CLUSTERED BY cell (the
    * `layout_zorder`/bucketing tie-in), so the probe prunes FILES, not
    * just work — here the single pass skips the encode+ADC for any
    * vector whose cell no query probes, which is the same asymptotic
    * cut without the physical layout. Everything non-corpus-resident
    * stays bounded: centroids (C rows), codebooks (M·Kc), per-query
    * probe sets (Q·nprobe), distance tables (Q·M·Kc).
    *
    * Determinism: the IVF build and the PQ build are the two existing
    * bit-exact replays composed unchanged; pruning only restricts the
    * candidate set (cell membership is the ranked-assignment contract
    * from the IVF oracle), so the composition introduces no new
    * arithmetic beyond the ADC sums already proven portable. */
  def knnIvfPq(spark: SparkSession, dir: String, k: Int = K): DataFrame =
    knnIvfPqOn(Tables.embeddings(spark, dir), k)

  /** Driver query (key `knn_ivf_pq_append`): the incremental-
    * maintenance lifecycle run END TO END through the cross-engine
    * gate — day-0 build on the base half of the corpus
    * (`vec_id <= max/2`), staged as a manifest version, then (since
    * r18) [[appendIvfPqIndexAtomic]] of the rest — the batch encoded
    * against the frozen staged artifacts lands as a hardlink-mirrored
    * new version with one pointer flip — and the staged-index query
    * path over the full corpus off the live version. With
    * `knn_ivf_delete` running the atomic ERASURE, both delta types of
    * the atomic lifecycle are now oracle-gated every round. The
    * oracle replays [[buildIvfPq]]`(all, trainOn = base)` —
    * bit-identical to the append by the SimilaritySpec equation (and
    * to the atomic form by ManifestAtomicSpec) — so a hash match
    * checks the append arithmetic itself, not just its agreement with
    * a rebuild inside one engine. The one `max(vec_id)` probe is a
    * 1-row collect (bounded driver artifact). */
  def knnIvfPqAppend(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val cut = vectors.agg(max(col("vec_id"))).collect()(0).getLong(0) / 2
    val base = vectors.filter(col("vec_id") <= cut)
    val rest = vectors.filter(col("vec_id") > cut)
    val root = graft.operators.Scratch.reuseDir("ivf_pq_append_key_root")
    stageIvfPqIndexVersion(buildIvfPq(base), root)
    appendIvfPqIndexAtomic(spark, root, rest)
    queryIvfPq(readIvfPqIndex(spark,
      IndexManifest.currentOrFail(spark, root)), vectors,
      0L until Similarity.NQueries.toLong)
  }

  /** Erased id slice of the erasure-lifecycle driver keys: bounded
    * (50 ids — erasure requests are request-sized, the GDPR regime),
    * disjoint from the query ids, and trivially SQL-expressible so the
    * oracle can exclude exactly these candidates. At a corpus too
    * small to contain the slice the delete is a no-op on BOTH sides —
    * the key stays consistent at every sf. Defined on [[Similarity]]
    * (aliased here for the existing call sites) so the float tier's
    * oracle val never triggers THIS object's init mid-way through
    * Similarity's own — the circular-init hazard documented at
    * [[Similarity.DeleteLo]]. */
  val DeleteLo = Similarity.DeleteLo
  val DeleteHi = Similarity.DeleteHi

  /** Driver query (key `knn_ivf_pq_delete`): the erasure half of the
    * index CRUD lifecycle run END TO END through the cross-engine gate
    * — build over the full corpus, stage durably, [[deleteFromIvfPqIndex]]
    * of ids [[DeleteLo]]..[[DeleteHi]] (only their cell directories are
    * rewritten), then the staged-index query path. The oracle replays
    * the classic composed IVFADC search with exactly those ids removed
    * from candidate enumeration — centroids, codebooks, probes, and
    * every surviving code are unchanged by an erasure (they are
    * trained aggregates, not per-record state), which is precisely the
    * arithmetic claim the hash match checks. The heavyweight engine-
    * internal equations (survivor-rebuild equality, untouched-cell
    * byte-identity, idempotence) live in SimilaritySpec. */
  def knnIvfPqDelete(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val path = graft.operators.Scratch.reuseDir("ivf_pq_delete_idx")
    writeIvfPqIndex(buildIvfPq(vectors), path)
    deleteFromIvfPqIndex(spark, path, DeleteLo to DeleteHi)
    queryIvfPq(readIvfPqIndex(spark, path), vectors,
      0L until NQueries.toLong)
  }

  /** `cells <= 0` (the default) auto-sizes the coarse quantizer
    * ([[Similarity.autoCells]], C=⌈√(n/2)⌉); an explicit positive C
    * pins it. The fixed 16-cell knob this replaces left ~corpus/16 of
    * the codes in every probed cell at 2M vectors — the ScaleCheck-
    * measured build-dominated 180 s — where √(n/2) keeps the probed
    * fraction shrinking as the corpus grows. */
  def knnIvfPqOn(vectors: DataFrame, k: Int = K, dim: Int = 0,
                 cells: Int = 0): DataFrame = {
    import Similarity.IvfNProbe
    val d =
      if (dim > 0) dim
      else vectors.select(size(col("embedding")).as("__d"))
        .filter(col("__d").isNotNull).limit(1).collect().headOption match {
        case Some(r) => r.getInt(0)
        case None =>
          return vectors.limit(0).select(
            col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
            lit(0).as("rank"), lit(0.0).as("cosine"))
      }
    require(d % M == 0, s"embedding dim $d must be divisible by M=$M")
    val subW = d / M

    // --- coarse index: the shared IVF build (auto-C by default — the
    //     same knob knn_ivf and the dedup tier run on)
    val (indexed, centroids) =
      Similarity.ivfIndex(vectors, cells, "ivf_centroids_knn_ivf_pq")
    val spark = vectors.sparkSession
    import spark.implicits._

    // --- probes: per query the nprobe nearest cells (bounded Q·C
    //     candidate rows, Q·nprobe survivors → a driver map shipped in
    //     the scan closure, the knnPq distance-table precedent)
    val (probesByQ, probedCells) = collectProbes(indexed, centroids)
    val qIds: Array[Long] = probesByQ.keys.toArray.sorted

    // --- PQ build over the unit-normalized corpus (identical recipe
    //     to knnPqOn; the corpus frame here additionally carries the
    //     coarse cell)
    val un = indexed.select(col("vec_id"),
      transform(col("e"), x => x / col("nrm")).as("u"), col("cell"))
    val seedsByM: Array[Array[(Long, Array[Double])]] = {
      val rows = un.orderBy(col("vec_id")).limit(Kc)
        .select(col("vec_id"), col("u")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      Array.tabulate(M)(m => rows.map { case (vid, u) =>
        (vid, java.util.Arrays.copyOfRange(u, m * subW, (m + 1) * subW)) })
    }
    val fa = un.select(col("vec_id"), col("u")).as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.flatMap { case (_, u) =>
          (0 until M).iterator.map { m =>
            val cm = seedsByM(m)
            val best = Pq.argminCode(u, m * subW, subW, cm)
            (m, cm(best)._1,
              java.util.Arrays.copyOfRange(u, m * subW, (m + 1) * subW))
          }
        }
      }.toDF("m", "code", "s")
    val cents = fa
      .select(col("m"), col("code"), posexplode(col("s")).as(Seq("pos", "v")))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg((sum(col("v").cast("decimal(30,10)")).cast("double") / count(col("v")))
        .as("mean"))
      .groupBy(col("m"), col("code"))
      .agg(sort_array(collect_list(struct(col("pos"), col("mean")))).as("pm"))
      .select(col("m"), col("code"),
        transform(col("pm"), p => p.getField("mean")).as("cs"))
    val centsByM: Array[Array[(Long, Array[Double])]] = {
      val rows = cents.collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
      Array.tabulate(M)(m =>
        rows.filter(_._1 == m).sortBy(_._2).map(t => (t._2, t._3)))
    }

    // --- per-query ADC distance tables (Q·M·Kc, bounded)
    val qsub = un.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"),
        explode(sequence(lit(0), lit(M - 1))).as("m"), col("u"))
      .select(col("query_id"), col("m"),
        slice(col("u"), col("m") * subW + 1, lit(subW)).as("qs"))
    val dtRows = qsub.join(broadcast(cents), "m")
      .select(col("query_id"), col("m"), col("code"),
        l2sq(col("qs"), col("cs")).as("d2"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val dtByQ: Map[Long, Array[Array[Double]]] = qIds.map { q =>
      q -> Array.tabulate(M) { m =>
        val codeIdx = centsByM(m).iterator.map(_._1).zipWithIndex.toMap
        val row = new Array[Double](centsByM(m).length)
        dtRows.iterator.filter(t => t._1 == q && t._2 == m)
          .foreach(t => row(codeIdx(t._3)) = t._4)
        row
      }
    }.toMap

    // --- the ONE corpus pass, cell-pruned: vectors in unprobed cells
    //     skip encode AND ADC entirely (the inverted-file cut); probed
    //     ones pay encode once + ADC per probing query
    val worstFirst: Ordering[(Long, Long, Double)] =
      Ordering.by(t => (t._3, t._2))
    val pruned = un.as[(Long, Array[Double], Long)]
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.Map
          .empty[Long, scala.collection.mutable.PriorityQueue[(Long, Long, Double)]]
        val codesBuf = new Array[Int](M)
        it.foreach { case (vid, u, cell) =>
          if (probedCells.contains(cell)) {
            var m = 0
            while (m < M) {
              codesBuf(m) = Pq.argminCode(u, m * subW, subW, centsByM(m))
              m += 1
            }
            var qi = 0
            while (qi < qIds.length) {
              val q = qIds(qi)
              if (q != vid && probesByQ(q).contains(cell)) {
                val dtm = dtByQ(q)
                var acc = 0.0
                var mm = 0
                while (mm < M) { acc += dtm(mm)(codesBuf(mm)); mm += 1 }
                val c = (q, vid, acc)
                val h = heaps.getOrElseUpdate(q,
                  new scala.collection.mutable.PriorityQueue[(Long, Long, Double)]()(worstFirst))
                if (h.size < Rerank) h.enqueue(c)
                else if (worstFirst.compare(c, h.head) < 0) { h.dequeue(); h.enqueue(c) }
              }
              qi += 1
            }
          }
        }
        heaps.valuesIterator.flatMap(_.iterator)
      }
      .toDF("query_id", "vec_id", "adist")
    val cw = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("vec_id"))
    val cand = broadcast(pruned.withColumn("crk", row_number().over(cw))
      .filter(col("crk") <= Rerank)
      .select(col("query_id"), col("vec_id")))

    // --- exact cosine rerank over the candidate sliver
    val vnAll = indexed.select(col("vec_id"), col("e"), col("nrm"))
    val qSide = broadcast(vnAll.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("e").as("qe"), col("nrm").as("qnrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("vec_id"))
    cand.join(vnAll, "vec_id").join(qSide, "query_id")
      .select(col("query_id"), col("vec_id"),
        V.cosineWithNorms(V.dot(col("e"), col("qe")), col("nrm"), col("qnrm"))
          .as("cosine"))
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("rank"), col("cosine"))
  }

  // --- serving-shape split: build once, stage, query many ---------------

  /** A staged IVFADC index: the three bounded-or-corpus-resident
    * frames a serving deployment materializes ONCE and then queries
    * from — `centroids` (C rows: cell, ce, cn), `codebooks` (M·Kc
    * rows: m, code, cs), and `codes` (one row per corpus vector:
    * vec_id, cell, codes array in subspace order — the M-small-ints
    * compressed form that IS the PQ memory story). The original
    * vector column is deliberately NOT part of the index: the exact
    * rerank reads it from the corpus by key over the bounded
    * candidate sliver (Rerank·Q rows — a point-lookup join at scale).
    *
    * Open once, query many: the two bounded tables every query and
    * every append consumes are collected on first use, at most once per
    * index value, and reused by every later call against it — an
    * opened index pays only for each query's own work. */
  case class IvfPqIndex(centroids: DataFrame, codebooks: DataFrame, codes: DataFrame) {
    /** The C-row centroid table as (cell, ce, cn), sorted by cell. */
    @transient private[operators] lazy val centroidRows
        : Array[(Long, Array[Double], Double)] =
      Similarity.collectCentroids(centroids, "cell", "ce", "cn")
    /** The per-subspace codebooks sorted by code id ([[centsByMFrom]]). */
    @transient private[operators] lazy val centsByM
        : Array[Array[(Long, Array[Double])]] = centsByMFrom(codebooks)
    /** Per subspace, code id → its ascending-code rank: the index a
      * stored code reads in the ADC tables. */
    @transient private[operators] lazy val codeRank: Array[Map[Long, Int]] =
      centsByM.map(_.iterator.map(_._1).zipWithIndex.toMap)
  }

  /** The M·Kc codebook table collected into per-subspace
    * (code, centroid) arrays sorted by code id — the closure form both
    * the encode pass and the ADC tables consume. Bounded: M·Kc rows of
    * subW doubles. */
  private[operators] def centsByMFrom(codebooks: DataFrame)
      : Array[Array[(Long, Array[Double])]] = {
    val rows = codebooks.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getSeq[Double](2).toArray))
    Array.tabulate(M)(m =>
      rows.filter(_._1 == m).sortBy(_._2).map(t => (t._2, t._3)))
  }

  /** The collected codebook closure re-framed as the bounded (m, code,
    * cs) local relation the index carries (r20, guide §1.2): the build
    * paths collect the trained codebooks ONCE ([[centsByMFrom]]) and
    * hand every downstream consumer — the encode closure, the staged
    * write, the ADC tables — this value-identical M·Kc-row frame, so
    * staging an index no longer re-executes the training aggregate's
    * full-corpus lineage a second time. */
  private[operators] def codebooksFrame(spark: SparkSession,
      centsByM: Array[Array[(Long, Array[Double])]]): DataFrame = {
    import spark.implicits._
    (for {
      m <- 0 until M
      (code, cs) <- centsByM(m)
    } yield (m, code, cs.toSeq)).toDF("m", "code", "cs")
  }

  /** THE encode pass: one narrow map over (vec_id, u, cell) producing
    * the M code ids per vector against a FIXED codebook closure.
    * Shared by [[buildIvfPq]] and [[appendToIvfPq]] so the append path
    * is bit-identical to the build's encode by construction. */
  private[operators] def encodeCodes(un: DataFrame,
                          centsByM: Array[Array[(Long, Array[Double])]],
                          subW: Int): DataFrame = {
    val spark = un.sparkSession
    import spark.implicits._
    un.as[(Long, Array[Double], Long)]
      .mapPartitions { it =>
        it.map { case (vid, u, cell) =>
          val cs = new Array[Long](M)
          var m = 0
          while (m < M) {
            cs(m) = centsByM(m)(Pq.argminCode(u, m * subW, subW, centsByM(m)))._1
            m += 1
          }
          (vid, cell, cs)
        }
      }.toDF("vec_id", "cell", "codes")
  }

  /** Per-subspace codebook training over a prepared UNIT frame `un`
    * (vec_id, u, …) — the Kc-lowest-vec_id seed pick, one assignment
    * pass (JVM argmin, the d2At twin), and DECIMAL-accumulated Lloyd
    * means: exactly the recipe the oracle replays (sd/fa/means/cents)
    * and [[pqAdcSearchOn]] runs inline. Extracted so [[buildIvfPq]]
    * (u = the unit corpus) and [[Opq.buildIvfOpq]] (u = the rotated
    * unit corpus) train byte-identical codebooks from one definition.
    * Returns (m, code, cs) — M·Kc bounded rows. */
  private[operators] def trainCodebooks(un: DataFrame, subW: Int): DataFrame = {
    val spark = un.sparkSession
    import spark.implicits._
    val seedsByM: Array[Array[(Long, Array[Double])]] = {
      val rows = un.orderBy(col("vec_id")).limit(Kc)
        .select(col("vec_id"), col("u")).collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      Array.tabulate(M)(m => rows.map { case (vid, u) =>
        (vid, java.util.Arrays.copyOfRange(u, m * subW, (m + 1) * subW)) })
    }
    val fa = un.select(col("vec_id"), col("u")).as[(Long, Array[Double])]
      .mapPartitions { it =>
        it.flatMap { case (_, u) =>
          (0 until M).iterator.map { m =>
            val cm = seedsByM(m)
            val best = Pq.argminCode(u, m * subW, subW, cm)
            (m, cm(best)._1,
              java.util.Arrays.copyOfRange(u, m * subW, (m + 1) * subW))
          }
        }
      }.toDF("m", "code", "s")
    fa
      .select(col("m"), col("code"), posexplode(col("s")).as(Seq("pos", "v")))
      .groupBy(col("m"), col("code"), col("pos"))
      .agg((sum(col("v").cast("decimal(30,10)")).cast("double") / count(col("v")))
        .as("mean"))
      .groupBy(col("m"), col("code"))
      .agg(sort_array(collect_list(struct(col("pos"), col("mean")))).as("pm"))
      .select(col("m"), col("code"),
        transform(col("pm"), p => p.getField("mean")).as("cs"))
  }

  /** Build the staged index: the SAME deterministic build the one-shot
    * [[knnIvfPqOn]] runs (shared `ivfIndex` + per-subspace codebooks),
    * with every corpus vector encoded once. Encode pays n·M·Kc
    * multiply-adds in one narrow pass — the build cost the one-shot
    * key folds into every call and a serving deployment pays once.
    *
    * `trainOn` (null = `vectors`): the TRAINING corpus for centroids
    * and codebooks, independent of the INDEXED corpus — the
    * incremental-lifecycle contract. `buildIvfPq(a ∪ b, trainOn = a)`
    * is bit-identical to `appendToIvfPq(buildIvfPq(a), b)`
    * (spec-asserted): same ivfIndex(a) centroids, same a-trained
    * codebooks, same assign+encode arithmetic for b — which is what
    * makes the append path oracle-able against a full rebuild. */
  /** `metaCols` (opt-in): metadata columns of `vectors` to ride the
    * code postings — the metadata-in-index layout that lets
    * [[queryIvfPqFiltered]] evaluate a predicate INSIDE the compressed
    * scan ([[Similarity.writeIvfIndex]]'s metaCols recipe on the PQ
    * tier). The join is vec_id-keyed build cost, never query cost;
    * appends ride the same columns automatically ([[encodeAgainst]]
    * derives the set from the index schema and fails loudly on a
    * mismatched batch). */
  def buildIvfPq(vectors: DataFrame, dim: Int = 0, cells: Int = 0,
                 trainOn: DataFrame = null,
                 metaCols: Seq[String] = Nil): IvfPqIndex = {
    val train = Option(trainOn).getOrElse(vectors)
    val d =
      if (dim > 0) dim
      else vectors.select(size(col("embedding")).as("__d"))
        .filter(col("__d").isNotNull).limit(1).collect().headOption match {
        case Some(r) => r.getInt(0)
        case None => throw new IllegalArgumentException(
          "cannot build an IVFADC index over an empty corpus")
      }
    require(d % M == 0, s"embedding dim $d must be divisible by M=$M")
    val subW = d / M
    val (indexed, centroids) =
      Similarity.ivfIndex(train, cells, "ivf_centroids_build_ivf_pq")
    val un = indexed.select(col("vec_id"),
      transform(col("e"), x => x / col("nrm")).as("u"), col("cell"))
    val codebooks = trainCodebooks(un, subW)
    val centsByM = centsByMFrom(codebooks)
    // the INDEXED corpus: when training is decoupled, assign every
    // corpus vector to the trained centroids (the append arithmetic)
    val unAll =
      if (trainOn == null) un
      else {
        val vAll = vectors
          .select(col("vec_id"), V.toDouble(col("embedding")).as("e"))
          .withColumn("nrm", V.l2Norm(col("e")))
        Similarity.assignNearest(vAll, centroids, "cell", "ce", "cn")
          .select(col("vec_id"),
            transform(col("e"), x => x / col("nrm")).as("u"), col("cell"))
      }
    // one narrow encode pass: vec_id -> (cell, M code ids in m order)
    val codes = encodeCodes(unAll, centsByM, subW)
    val withMeta =
      if (metaCols.isEmpty) codes
      else codes.join(
        vectors.select((Seq("vec_id") ++ metaCols).map(col): _*), "vec_id")
    // the index carries the COLLECTED codebooks re-framed locally —
    // value-identical, and staging the index no longer re-runs the
    // training aggregate (see [[codebooksFrame]])
    IvfPqIndex(centroids, codebooksFrame(vectors.sparkSession, centsByM), withMeta)
  }

  /** Incremental index maintenance: assign + encode `newVectors`
    * against the EXISTING centroids and codebooks — no Lloyd, no
    * codebook training, no touch of the already-encoded corpus — and
    * return the index with the new codes appended. The daily-corpus
    * lifecycle ([[graft.operators.Dedup.dedupIncremental]] precedent):
    * a per-ds ingest cannot re-run training over 100 TB, and does not
    * need to — nearest-cell assignment against fixed centroids is
    * deterministic, so `appendToIvfPq(buildIvfPq(a), b)` answers
    * queries bit-identically to `buildIvfPq(a ∪ b, trainOn = a)`
    * (spec-asserted), and appends compose:
    * `append(append(i, b1), b2) == append(i, b1 ∪ b2)`.
    *
    * Cost: one narrow pass over the NEW vectors (|new|·C·d assignment
    * multiply-adds + |new|·M·Kc encode) — independent of the indexed
    * corpus size. Caller contract: new vec_ids are disjoint from the
    * indexed ones (same contract as the underlying corpus), and
    * centroid quality is the build corpus's — re-train when drift
    * accumulates, the standard IVF reindex cadence. */
  def appendToIvfPq(index: IvfPqIndex, newVectors: DataFrame,
                    dim: Int = 0): IvfPqIndex =
    index.copy(codes =
      index.codes.unionByName(encodeAgainst(index, newVectors, dim)))

  /** The append arithmetic alone: `newVectors` assigned + encoded
    * against `index`'s artifacts, as a codes frame. `private[graft]`:
    * the streaming ingest sink (Streams.annIngestSink) reuses it
    * verbatim per micro-batch. */
  private[graft] def encodeAgainst(index: IvfPqIndex, newVectors: DataFrame,
                                   dim: Int,
                                   basis: Array[Array[Double]] = null): DataFrame = {
    // with a staged rotation the INPUT dim is the basis row width (the
    // original space the batch arrives in), while the codebooks encode
    // the rotated r — deriving d from the codebooks would reject every
    // valid batch
    val d =
      if (basis != null) basis(0).length
      else if (dim > 0) dim
      else index.centsByM.iterator.flatMap(_.iterator).nextOption() match {
        case Some((_, cs)) => cs.length * M
        case None => throw new IllegalArgumentException(
          "cannot append to an index with empty codebooks")
      }
    val encDim = if (basis == null) d else basis.length
    require(encDim % M == 0,
      s"encoded dim $encDim must be divisible by M=$M")
    val subW = encDim / M
    // dimension discipline (the r15-advice class, PQ form): a
    // too-short vector silently prefix-dots its cell assignment
    // before the encode loop AIOOBEs, a too-long one AIOOBEs in the
    // assignment — both now fail in-plan with a diagnosis
    val vNew = newVectors
      .select(col("vec_id"),
        when(size(col("embedding")) === lit(d), V.toDouble(col("embedding")))
          .otherwise(raise_error(concat(
            lit("appendIvfPq: vector "), col("vec_id"), lit(" has "),
            size(col("embedding")),
            lit(s" dims but the index encodes $d")))
            .cast("array<double>"))
          .as("e"))
      .withColumn("nrm", V.l2Norm(col("e")))
    val unNew = Similarity.assignNearestTo(vNew, index.centroidRows, "cell")
      .select(col("vec_id"),
        transform(col("e"), x => x / col("nrm")).as("u"), col("cell"))
    // rotated tier: the batch rotates through the SAME column-form
    // basis dots the build used (bounded r×d literals), so appended
    // codes are bit-identical to a rebuild's
    val encIn =
      if (basis == null) unNew
      else unNew.select(col("vec_id"),
        array(basis.map(b => V.dot(col("u"), array(b.map(lit): _*))): _*).as("u"),
        col("cell"))
    val encoded = encodeCodes(encIn, index.centsByM, subW)
    // metadata discipline: the batch must ride exactly the columns the
    // index's codes carry — a divergent-schema append would strip the
    // filter column from (or null it in) every later filtered scan
    val meta = index.codes.columns.toSeq
      .filterNot(Set("vec_id", "cell", "codes"))
    if (meta.isEmpty) encoded
    else {
      val missing = meta.filterNot(newVectors.columns.contains)
      require(missing.isEmpty,
        s"appendIvfPq: the index codes carry metadata columns $meta " +
          s"but the batch lacks $missing — append the same shape")
      encoded.join(
        newVectors.select((Seq("vec_id") ++ meta).map(col): _*), "vec_id")
    }
  }

  /** Durable append against a [[writeIvfPqIndex]]-staged index: encode
    * the new vectors against the staged artifacts and APPEND only
    * their cell-clustered code files — centroids, codebooks, and every
    * existing code file stay byte-identical (spec-asserted), which is
    * what makes a daily append write O(|new|), not O(index). Returns
    * the number of appended code rows. */
  def appendIvfPqIndex(spark: SparkSession, path: String,
                       newVectors: DataFrame, dim: Int = 0): Long = {
    val index = readIvfPqIndex(spark, path)
    val newCodes = encodeAgainst(index, newVectors, dim)
    val staged = graft.operators.Scratch.stageReuse(newCodes, "ivf_pq_append_codes")
    staged.repartition(col("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$path/codes")
    staged.count()
  }

  /** ATOMIC durable append (r17 verdict item 1): the same encode
    * arithmetic as [[appendIvfPqIndex]], landed through
    * [[IndexManifest.appendRowsAtomic]] on a MANIFEST-rooted index
    * ([[stageIvfPqIndexVersion]]) — untouched cell directories
    * hardlink into a fresh version, the batch's cells rewrite as
    * old ∪ new, one pointer flip. A concurrent reader sees the batch
    * wholly or not at all; a crash leaves the old version serving.
    * Answers are bit-identical to the in-place form's (spec). */
  def appendIvfPqIndexAtomic(spark: SparkSession, root: String,
                             newVectors: DataFrame, dim: Int = 0,
                             keep: Int = 2): Long = {
    val live = IndexManifest.currentOrFail(spark, root)
    val index = readIvfPqIndex(spark, live)
    // the publish is pinned to `live`'s retrain epoch (r20): the encode
    // derives cells/codes from THIS version's centroids+codebooks — a
    // retrain publishing mid-flight fails the append loudly instead of
    // landing stale rows
    IndexManifest.appendRowsAtomic(spark, root, live, index.codes, "codes",
      "cell", encodeAgainst(index, newVectors, dim), keep)
  }

  /** ATOMIC right-to-erasure: [[deleteFromIvfPqIndex]]'s survivor
    * semantics through [[IndexManifest.deleteVecIdsAtomic]] — no
    * reader ever sees a half-erased index, emptied cells simply don't
    * exist in the new version, crash-safe by the pointer flip. Shared
    * verbatim by the IVF-SQ8 and OPQ tiers (their codes trees are
    * this layout byte-for-byte). */
  def deleteFromIvfPqIndexAtomic(spark: SparkSession, root: String,
                                 vecIds: Seq[Long], keep: Int = 2): Long =
    IndexManifest.deleteVecIdsAtomic(spark, root, "codes", "cell",
      vecIds, keep)

  /** Stage a built PQ index as version 1 of a manifest-rooted index —
    * entry point of the atomic lifecycle. Returns the published
    * version directory; readers resolve
    * [[IndexManifest.currentOrFail]] once per plan. */
  def stageIvfPqIndexVersion(index: IvfPqIndex, root: String): String =
    IndexManifest.publish(index.codes.sparkSession, root)(
      dir => writeIvfPqIndex(index, dir))

  /** Per-cell health report of a staged IVFADC index (r18 verdict
    * item 4 — the compressed-tier twin of
    * [[Similarity.ivfIndexStats]]): appends encode against FROZEN
    * centroids and codebooks forever, so cells skew and ADC error
    * drifts exactly as the float tier's postings do — and the codes
    * tree aggregates the same way (one GROUP BY over `(cell,
    * vec_id ≥ watermark)`; codes bytes never read). Feed the skew
    * column to the retrain trigger ([[rebalanceIvfPqIndexVersioned]]),
    * the same stats→rebalance loop as the float tier. */
  def ivfPqIndexStats(spark: SparkSession, path: String,
                      appendedFrom: Long): DataFrame = {
    val index = readIvfPqIndex(spark, path)
    Similarity.cellStatsOf(index.codes, index.centroids, appendedFrom)
  }

  /** Driver query (key `knn_pq_index_stats`): the PQ append
    * lifecycle's health read — stage the IVFADC index on the day-0
    * half, append the rest against the frozen artifacts, report
    * per-cell stats with the watermark at the split. The coarse
    * assignment is the SAME deterministic quantizer as the float
    * tier's (the trainOn-decoupling equation), so the report shares
    * `knn_index_stats`' oracle verbatim — the compressed tier's
    * health row is hash-checked against the identical IVF replay. */
  def knnPqIndexStats(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val cut = vectors.agg(org.apache.spark.sql.functions.max(
      col("vec_id"))).collect()(0).getLong(0) / 2
    val path = graft.operators.Scratch.reuseDir("ivf_pq_stats_idx")
    writeIvfPqIndex(buildIvfPq(vectors.filter(col("vec_id") <= cut)), path)
    appendIvfPqIndex(spark, path, vectors.filter(col("vec_id") > cut))
    ivfPqIndexStats(spark, path, appendedFrom = cut + 1)
  }

  /** Retrain a drifted MANIFEST-rooted IVFADC index (r18 verdict
    * item 4): re-run [[buildIvfPq]] — fresh Lloyd centroids AND fresh
    * codebooks — over `corpus`, the declared float-vector source (PQ
    * codes are LOSSY: unlike the float tier, the index cannot retrain
    * from its own payload, so the deployment names the corpus the
    * index serves — the same frame its appends came from), publish the
    * rebuilt index as a new version (readers overlapping the retrain
    * keep serving the old one), retire superseded versions behind
    * `keep`. Post-rebalance the index answers bit-identically to a
    * fresh [[buildIvfPq]] over the corpus (spec-asserted — Lloyd and
    * codebook training are deterministic). Metadata columns are
    * re-derived from the live codes tree so the retrained index keeps
    * serving its filtered queries.
    *
    * FENCE (shared with every retrain): stop and drain streaming
    * appenders first — a retrain moves the cell assignment function,
    * which breaks both the replay-idempotence claim check and any
    * in-flight encode against the old artifacts. Returns the published
    * version directory. */
  def rebalanceIvfPqIndexVersioned(spark: SparkSession, root: String,
                                   corpus: DataFrame, dim: Int = 0,
                                   keep: Int = 2): String = {
    val live = IndexManifest.currentOrFail(spark, root)
    val meta = IndexManifest.readFrame(spark, live, "codes").columns.toSeq
      .filterNot(Set("vec_id", "cell", "codes"))
    val rebuilt = buildIvfPq(corpus, dim, metaCols = meta)
    // publishRetrain = the ENFORCED fence (r19 verdict item 1): refuses
    // while un-flushed streaming-pending rows exist, and advances the
    // retrain epoch the ingest sink's claim check is keyed by
    IndexManifest.publishRetrain(spark, root, keep)(
      dir => writeIvfPqIndex(rebuilt, dir))
  }

  /** Stage the index durably (three parquet frames under `path`). */
  def writeIvfPqIndex(index: IvfPqIndex, path: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
    index.codebooks.write.mode("overwrite").parquet(s"$path/codebooks")
    // codes live in cell=<id> PARTITION DIRECTORIES: a probe prunes
    // whole directories (not just row groups) down to nprobe/C of the
    // corpus, an append adds files only under its batch's cells, and
    // an erasure ([[deleteFromIvfPqIndex]]) rewrites only the
    // directories that contain an erased id — the layout is what
    // makes the index's whole CRUD lifecycle O(touched cells).
    // The session's global dynamic partitionOverwriteMode means a
    // partitioned 'overwrite' of the live directory would only replace
    // cells THIS corpus populates — restaging a path whose previous
    // index had other cells would leave their stale directories to
    // rejoin the candidate set on read (r14 advice). And a bare
    // delete-then-rewrite of the live tree leaves no recovery copy if
    // the write job dies mid-flight (r15 advice). So: write the full
    // new codes tree to a sibling tmp directory, then swap via
    // delete + rename (the Sinks.compact pattern) — the index is
    // codes-less only for the duration of a directory rename, and a
    // crash inside that window is recoverable (codes_tmp holds the
    // complete new tree; recovery = rename it to codes). Residual
    // (shared with Similarity.writeIvfIndex): centroids/codebooks and
    // the codes swap are separate commits — restaging a LIVE index
    // wants a manifest + atomic pointer flip on top of this.
    val codesPath = new org.apache.hadoop.fs.Path(s"$path/codes")
    val tmpPath = new org.apache.hadoop.fs.Path(s"$path/codes_tmp")
    val fs = codesPath.getFileSystem(
      index.codes.sparkSession.sparkContext.hadoopConfiguration)
    fs.delete(tmpPath, true)
    index.codes.repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(tmpPath.toString)
    fs.delete(codesPath, true)
    if (!fs.rename(tmpPath, codesPath))
      throw new IllegalStateException(
        s"writeIvfPqIndex: rename $tmpPath -> $codesPath failed; " +
          s"the new codes tree is intact at $tmpPath")
  }

  def readIvfPqIndex(spark: SparkSession, path: String): IvfPqIndex =
    IvfPqIndex(
      IndexManifest.readFrame(spark, path, "centroids"),
      IndexManifest.readFrame(spark, path, "codebooks"),
      // re-pin the partition column's position and type: partitioned
      // discovery appends `cell` last and may infer it narrow, while
      // every consumer binds (vec_id, cell: long, codes) positionally;
      // metadata columns (buildIvfPq's metaCols) keep riding after
      pinnedCodes(IndexManifest.readFrame(spark, path, "codes")))

  /** (vec_id, cell: long, codes, meta…) — the consumer-facing column
    * order/type pin, metadata preserved. */
  private[operators] def pinnedCodes(raw: DataFrame): DataFrame = {
    val meta = raw.columns.toSeq
      .filterNot(Set("vec_id", "cell", "codes")).map(col)
    raw.select((Seq(col("vec_id"), col("cell").cast("long").as("cell"),
      col("codes")) ++ meta): _*)
  }

  /** Right-to-erasure on the SERVING index (the GDPR hard-delete
    * counterpart of [[graft.streaming.Streams]]' CDC-lake erasure):
    * drop the code rows of `vecIds`, rewriting ONLY the cell
    * directories that contain an erased id — every other partition's
    * files stay byte-identical (spec-asserted), so the erasure bill is
    * O(affected cells), not O(index). A cell whose every vector is
    * erased is deleted outright (dynamic overwrite writes nothing for
    * an empty partition — the dedup-index precedent, Dedup.scala).
    * The locate pass scans only the `vec_id` column (column-pruned);
    * a deployment with erasure SLAs would keep an id→cell reverse
    * index to skip it. Returns the number of deleted code rows.
    * Centroids/codebooks are unaffected: they are trained AGGREGATES,
    * not personal records — re-train on the next reindex cadence. */
  def deleteFromIvfPqIndex(spark: SparkSession, path: String,
                           vecIds: Seq[Long]): Long = {
    if (vecIds.isEmpty) return 0L
    val codesPath = s"$path/codes"
    // the survivor rewrite must carry EVERY codes column — metadata
    // included — or the rewritten cells would silently lose the
    // filtered tier's predicate column (the float-delete discipline)
    def codes = pinnedCodes(spark.read.parquet(codesPath))
    val affected = codes.filter(col("vec_id").isInCollection(vecIds))
      .select("cell").distinct().collect().map(_.getLong(0))
    if (affected.isEmpty) return 0L
    // survivors of the affected cells, staged OFF the index directory
    // (a dynamic overwrite cannot read the path it rewrites)
    val survivors = graft.operators.Scratch.stageReuse(
      codes.filter(col("cell").isInCollection(affected.toSeq))
        .filter(!col("vec_id").isInCollection(vecIds)),
      "ivf_pq_delete_survivors")
    val survivorCells = survivors.select("cell").distinct()
      .collect().map(_.getLong(0)).toSet
    val nBefore = codes.filter(col("cell").isInCollection(affected.toSeq)).count()
    val nAfter = survivors.count()
    survivors.repartition(col("cell"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").parquet(codesPath)
    // an emptied cell has no survivor rows, so the dynamic overwrite
    // left its stale directory behind — retire it explicitly
    val fs = new org.apache.hadoop.fs.Path(codesPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (affected.toSet -- survivorCells).foreach { cell =>
      fs.delete(new org.apache.hadoop.fs.Path(codesPath, s"cell=$cell"), true)
      ()
    }
    nBefore - nAfter
  }

  /** Query a STAGED index: probe cells from the C-row centroid table,
    * per-query ADC distance tables from the M·Kc codebooks, one scan
    * over the (cell-filtered) codes, exact rerank against `vectors`
    * restricted to the Rerank·Q candidate sliver. NOTHING is rebuilt:
    * the corpus is touched only by the codes scan (compressed form)
    * and the candidate point-lookups — the build-once/query-many
    * contract. Same arithmetic and tie-breaks as [[knnIvfPqOn]], so a
    * staged round-trip answers queries identically (spec-asserted).
    *
    * Served shape — three Spark jobs against an opened index. The
    * centroid and codebook tables are the index's artifacts, collected
    * once per [[IvfPqIndex]] value ([[IvfPqIndex.centroidRows]],
    * [[IvfPqIndex.centsByM]]), so a query runs exactly three collects:
    *  1. the Q query rows ([[queryRowsOf]]);
    *  2. the cell-pruned codes scan's per-partition Rerank-heaps, cut
    *     on the driver to each query's top Rerank by (adist, vec_id) —
    *     the `row_number() ≤ Rerank` cut in Spark's double order;
    *  3. a point lookup of the ≤ Q·Rerank candidate float rows, whose
    *     exact cosines rank by (cosine desc, vec_id) on the driver
    *     ([[servedTopK]]).
    * Everything held on the driver is O(Q·Rerank·d), the order of the
    * Q·M·Kc ADC tables. The answer is a LOCAL DataFrame, computed by
    * the time this returns, with the empty result's column names and
    * types. A zero cosine denominator nulls or fails (DIVIDE_BY_ZERO)
    * exactly as the column expression does under the session's ANSI
    * setting. */
  def queryIvfPq(index: IvfPqIndex, vectors: DataFrame,
                 queryIds: Seq[Long], k: Int = K,
                 nprobe: Int = Similarity.IvfNProbe,
                 basis: Array[Array[Double]] = null): DataFrame = {
    val vn = floatCorpus(vectors, None)
    val empty = vectors.limit(0).select(
      col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
      lit(0).as("rank"), lit(0.0).as("cosine"))
    val (qRows, _) = queryRowsOf(vn, queryIds, labeled = false)
    if (qRows.isEmpty) return empty
    servedTopK(vn, qRows,
      topKScan(index, qRows, Map.empty, nprobe, basis, None).collect(),
      k, empty.schema)
  }

  /** The float corpus as the rerank reads it: (vec_id, e, [label,] nrm)
    * — `filterCol` renamed to `label` when given. */
  private def floatCorpus(vectors: DataFrame, filterCol: Option[String]): DataFrame =
    vectors
      .select(Seq(col("vec_id"), V.toDouble(col("embedding")).as("e")) ++
        filterCol.map(c => col(c).as("label")): _*)
      .withColumn("nrm", V.l2Norm(col("e")))

  /** Driver-side query rows off the float corpus: (vec_id, e, nrm)
    * for `queryIds` — Q point lookups, the bounded structure every
    * staged query path ships in its scan closure. `labeled` reads each
    * query's label (as long — the oracle's `lab` CTE on the query
    * side) in the same job. */
  private[operators] def queryRowsOf(vn: DataFrame, queryIds: Seq[Long],
                                     labeled: Boolean)
      : (Array[(Long, Array[Double], Double)], Map[Long, Long]) = {
    val rows = vn.filter(col("vec_id").isInCollection(queryIds))
      .select(Seq(col("vec_id"), col("e"), col("nrm")) ++
        (if (labeled) Seq(col("label").cast("long")) else Nil): _*)
      .collect()
    (rows.map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))),
      if (labeled) rows.map(r => (r.getLong(0), r.getLong(3))).toMap
      else Map.empty)
  }

  /** Per-query probed cells off the index's collected centroid table —
    * driver-side, the same (cdist desc, cell asc) convention as
    * [[Similarity.probeFrame]]; shared by every staged query form
    * (r16-advice class: one definition, not copies, because the staged
    * paths are spec-equated to the one-shot keys). */
  private[operators] def probesAgainst(cents: Array[(Long, Array[Double], Double)],
                            qRows: Array[(Long, Array[Double], Double)],
                            nprobe: Int): Map[Long, Set[Long]] =
    qRows.map { case (q, qe, qnrm) =>
      val ranked = cents.map { case (cell, ce, cn) =>
        var dot = 0.0; var j = 0
        while (j < qe.length) { dot += qe(j) * ce(j); j += 1 }
        (cell, dot / (qnrm * cn))
      }.sortBy { case (cell, cd) => (-cd, cell) }
      q -> ranked.take(nprobe).map(_._1).toSet
    }.toMap

  /** Per-query ADC distance tables (unit-normalized query subvectors
    * against each codebook entry, the d2At arithmetic), indexed
    * [m][code rank] — bounded: Q·M·Kc doubles. */
  private[operators] def adcTablesFor(centsByM: Array[Array[(Long, Array[Double])]],
                           qRows: Array[(Long, Array[Double], Double)],
                           subW: Int): Map[Long, Array[Array[Double]]] =
    qRows.map { case (q, qe, qnrm) =>
      val u = qe.map(_ / qnrm)
      q -> Array.tabulate(M) { m =>
        centsByM(m).map { case (_, cs) => Pq.d2At(u, m * subW, subW, cs) }
      }
    }.toMap

  /** The staged rotation artifact ([[Opq]]'s `basis` frame: pos,
    * b: d doubles per ROTATED position, perm already applied)
    * collected pos-ascending into the bounded r×d closure every
    * rotated query path ships. */
  private[operators] def basisArrOf(basis: DataFrame): Array[Array[Double]] = {
    val rows = basis.select(col("pos"), col("b")).orderBy(col("pos")).collect()
      .map(_.getSeq[Double](1).toArray)
    // loud-failure discipline (the appendIvfIndex headOption class): an
    // empty basis artifact would otherwise surface as an
    // ArrayIndexOutOfBounds deep in the encode/ADC derivation
    if (rows.isEmpty) throw new IllegalStateException(
      "the staged rotation basis is empty — stage the index with " +
        "Opq.writeIvfOpqIndex before querying or appending")
    rows
  }

  /** JVM twin of the build's column rotation (`V.dot(u, lit-basis
    * row)` over u = e/nrm): elementwise divide, then one ascending
    * sequential multiply-add fold per rotated position — the exact
    * bits of the native `vec_dot` fold (the d2At precedent), so a
    * staged rotated query scores candidates identically to the
    * in-memory build. */
  private[operators] def rotateRow(qe: Array[Double], qnrm: Double,
                                   basis: Array[Array[Double]]): Array[Double] = {
    val u = new Array[Double](qe.length)
    var j = 0
    while (j < qe.length) { u(j) = qe(j) / qnrm; j += 1 }
    basis.map { b =>
      var acc = 0.0
      var i = 0
      while (i < u.length) { acc += u(i) * b(i); i += 1 }
      acc
    }
  }

  /** The per-tier ADC query derivation, rotation-aware: with no
    * `basis` the query subvectors are the original-space qRows (dim
    * must divide M); with a staged rotation (the collected r×d basis,
    * [[Opq.IvfOpqIndex.basisArr]]) the qRows rotate driver-side
    * ([[rotateRow]]) and the subspace width comes from the BASIS row
    * count (the rotated dim r), never the query dim — the codebooks
    * live in rotated space. qnrm of a rotated row is 1.0: the rotation
    * already consumed the normalization, and x/1.0 == x in IEEE so
    * [[adcTablesFor]]'s divide is a no-op. */
  private def adcQueryRows(qRows: Array[(Long, Array[Double], Double)],
                           basis: Array[Array[Double]])
      : (Array[(Long, Array[Double], Double)], Int) =
    if (basis == null) {
      val dim = qRows(0)._2.length
      require(dim % M == 0, s"embedding dim $dim must be divisible by M=$M")
      (qRows, dim / M)
    } else {
      require(basis.length % M == 0,
        s"rotated dim ${basis.length} must be divisible by M=$M")
      (qRows.map { case (q, qe, qnrm) => (q, rotateRow(qe, qnrm, basis), 1.0) },
        basis.length / M)
    }

  /** What every staged query form ships in its codes-scan closure:
    * per-query probed cells (ranked in ORIGINAL space) and ADC tables
    * (in the index's code space — rotated when an OPQ basis is given),
    * both derived from the index's collected artifacts. */
  private final case class Probed(qIds: Array[Long],
                                  probesByQ: Map[Long, Set[Long]],
                                  probedCells: Set[Long],
                                  dtByQ: Map[Long, Array[Array[Double]]])

  private def probed(index: IvfPqIndex, qRows: Array[(Long, Array[Double], Double)],
                     nprobe: Int, basis: Array[Array[Double]]): Probed = {
    val (adcRows, subW) = adcQueryRows(qRows, basis)
    val probesByQ = probesAgainst(index.centroidRows, qRows, nprobe)
    Probed(probesByQ.keys.toArray.sorted, probesByQ,
      probesByQ.values.flatten.toSet, adcTablesFor(index.centsByM, adcRows, subW))
  }

  /** The codes of the probed cells as (vec_id, cell, codes, label) —
    * the column-form cell filter sits BEFORE the typed scan so it
    * pushes down to the staged codes parquet as a partition filter
    * (whole cell=<id> directories skipped), where a lambda filter would
    * scan everything. The explicit projection drops metadata columns
    * the form does not read; the unfiltered forms carry a constant
    * label, since the typed binding is positional. */
  private def probedCodes(index: IvfPqIndex, cells: Set[Long],
                          filterCol: Option[String]): DataFrame =
    index.codes
      .filter(col("cell").isInCollection(cells.toSeq))
      .select(col("vec_id"), col("cell"), col("codes"),
        filterCol.fold(lit(0L))(c => col(c).cast("long")))

  /** The ONE codes scan of the top-k forms: cell-pruned, one bounded
    * Rerank-heap per query per partition (lossless: the global
    * top-Rerank by (adist, vec_id) is a subset of the union of the
    * per-partition top-Reranks). With `filterCol` a candidate must
    * carry its query's label (`qLab`) — one long compare before any
    * ADC sum. Rows: (query_id, vec_id, adist). */
  private def topKScan(index: IvfPqIndex, qRows: Array[(Long, Array[Double], Double)],
                       qLab: Map[Long, Long], nprobe: Int,
                       basis: Array[Array[Double]],
                       filterCol: Option[String]): Dataset[(Long, Long, Double)] = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    val p = probed(index, qRows, nprobe, basis)
    val (qIds, probesByQ, dtByQ) = (p.qIds, p.probesByQ, p.dtByQ)
    val codeRank = index.codeRank
    val filtered = filterCol.isDefined
    val worstFirst: Ordering[(Long, Long, Double)] =
      Ordering.by(t => (t._3, t._2))
    probedCodes(index, p.probedCells, filterCol)
      .as[(Long, Long, Array[Long], Long)]
      .mapPartitions { it =>
        val heaps = scala.collection.mutable.Map
          .empty[Long, scala.collection.mutable.PriorityQueue[(Long, Long, Double)]]
        it.foreach { case (vid, cell, cs, lab) =>
          var qi = 0
          while (qi < qIds.length) {
            val q = qIds(qi)
            if (q != vid && (!filtered || qLab(q) == lab) &&
                probesByQ(q).contains(cell)) {
              val dtm = dtByQ(q)
              var acc = 0.0
              var m = 0
              while (m < M) { acc += dtm(m)(codeRank(m)(cs(m))); m += 1 }
              val c = (q, vid, acc)
              val h = heaps.getOrElseUpdate(q,
                new scala.collection.mutable.PriorityQueue[(Long, Long, Double)]()(worstFirst))
              if (h.size < Rerank) h.enqueue(c)
              else if (worstFirst.compare(c, h.head) < 0) { h.dequeue(); h.enqueue(c) }
            }
            qi += 1
          }
        }
        heaps.valuesIterator.flatMap(_.iterator)
      }
  }

  /** The candidate-scan frame a top-k query collects — the codes scan
    * whose plan carries the static cell partition filter. Exposed for
    * plan assertions only. */
  private[graft] def topKCandidateScan(index: IvfPqIndex, vectors: DataFrame,
                                       queryIds: Seq[Long],
                                       filterCol: Option[String] = None,
                                       basis: Array[Array[Double]] = null): DataFrame = {
    val (qRows, qLab) = queryRowsOf(floatCorpus(vectors, filterCol), queryIds,
      labeled = filterCol.isDefined)
    val nprobe = if (filterCol.isDefined) Similarity.FilteredNProbe else Similarity.IvfNProbe
    topKScan(index, qRows, qLab, nprobe, basis, filterCol)
      .toDF("query_id", "vec_id", "adist")
  }

  /** Spark SQL's order on (adist, vec_id): doubles compare as SQL does
    * (NaN largest, -0.0 == 0.0), ties break on the id. */
  private val byAdist: Ordering[(Long, Long, Double)] = (a, b) => {
    val c = SQLOrderingUtil.compareDoubles(a._3, b._3)
    if (c != 0) c else java.lang.Long.compare(a._2, b._2)
  }

  /** Spark SQL's order on (cosine DESC, vec_id): a NULL cosine sorts
    * last under `desc`, NaN first. */
  private val byCosineDesc: Ordering[(Long, Any, java.lang.Double)] = (a, b) => {
    val c = (a._3, b._3) match {
      case (null, null) => 0
      case (null, _) => 1
      case (_, null) => -1
      case (x, y) => SQLOrderingUtil.compareDoubles(y, x)
    }
    if (c != 0) c else java.lang.Long.compare(a._1, b._1)
  }

  /** The exact rerank cosine of one (candidate, query) pair: the
    * column form's `V.cosineWithNorms(V.dot(e, qe), nrm, qnrm)` built
    * from the same catalyst expressions — the `vec_dot` kernel, then
    * `dot / (nrm · qnrm)` — and evaluated on the driver, so a NULL
    * input or a zero denominator yields NULL, or DIVIDE_BY_ZERO under
    * ANSI, exactly as in a plan. */
  private def rerankCosine(e: ArrayData, nrm: java.lang.Double, qe: ArrayData,
                           qnrm: Double, ctx: NumericEvalContext): java.lang.Double = {
    val dot = if (e == null) null else java.lang.Double.valueOf(VecDot.dot(e, qe))
    Divide(Literal.create(dot, DoubleType),
      Multiply(Literal.create(nrm, DoubleType), Literal(qnrm), ctx), ctx)
      .eval().asInstanceOf[java.lang.Double]
  }

  /** The collected top-k tail of [[queryIvfPq]] and
    * [[queryIvfPqFiltered]]: cut the codes scan's heap survivors to
    * each query's top Rerank by (adist, vec_id), point-look-up the
    * candidates' float rows in ONE collect, and rank their exact
    * cosines by (cosine desc, vec_id) to the top k — the driver twin
    * of a broadcast-join + two-window tail. Inner-join multiplicities
    * hold: a candidate absent from `vn` drops, and a vec_id present
    * twice (in `vn` or among the query rows) pairs twice. `schema`
    * (the empty result's, with a nullable cosine — the divide can
    * NULL) fixes the local result's columns; with a `label` column the
    * candidate's label rides in its source type. */
  private def servedTopK(vn: DataFrame, qRows: Array[(Long, Array[Double], Double)],
                         survivors: Array[(Long, Long, Double)], k: Int,
                         emptySchema: StructType): DataFrame = {
    val spark = vn.sparkSession
    val labeled = emptySchema.fieldNames.contains("label")
    val cand: Seq[(Long, Array[Long])] = survivors.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (q, rs) => q -> rs.sorted(byAdist).take(Rerank).map(_._2) }
    val ids = cand.flatMap(_._2).distinct
    val lookup: Map[Long, Array[(ArrayData, java.lang.Double, Any)]] =
      if (ids.isEmpty) Map.empty
      else vn.filter(col("vec_id").isInCollection(ids))
        .select(Seq(col("vec_id"), col("e"), col("nrm")) ++
          (if (labeled) Seq(col("label")) else Nil): _*)
        .collect()
        .map(r => (r.getLong(0),
          (if (r.isNullAt(1)) null else ArrayData.toArrayData(r.getSeq[Double](1).toArray),
            if (r.isNullAt(2)) null else java.lang.Double.valueOf(r.getDouble(2)),
            if (labeled) r.get(3) else null)))
        .groupMap(_._1)(_._2)
    val qSide: Map[Long, Array[(ArrayData, Double)]] = qRows
      .groupMap(_._1) { case (_, qe, qnrm) => (ArrayData.toArrayData(qe), qnrm) }
    val ctx = NumericEvalContext(EvalMode.fromBoolean(
      spark.conf.get("spark.sql.ansi.enabled").toBoolean))
    val rows = cand.flatMap { case (q, vids) =>
      val scored = for {
        vid <- vids.toSeq
        (e, nrm, lab) <- lookup.getOrElse(vid, Array.empty[(ArrayData, java.lang.Double, Any)]).toSeq
        (qe, qnrm) <- qSide(q).toSeq
      } yield (vid, lab, rerankCosine(e, nrm, qe, qnrm, ctx))
      scored.sorted(byCosineDesc).take(k).zipWithIndex.map { case ((vid, lab, cos), i) =>
        if (labeled) Row(q, vid, lab, i + 1, cos) else Row(q, vid, i + 1, cos)
      }
    }
    val schema = StructType(emptySchema.map(f =>
      if (f.name == "cosine") f.copy(nullable = true) else f))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** FILTERED top-k served off the STAGED compressed index (r16
    * verdict item 1): [[queryIvfPq]]'s probe + ADC scan with the
    * metadata predicate evaluated INSIDE the code scan — the filter
    * column rides the code postings ([[buildIvfPq]]'s `metaCols`), so
    * a filtered query touches the float corpus only for the Q query
    * rows and the Rerank·Q candidate sliver, never per candidate. At
    * 100 TB this is the whole point: the float postings are exactly
    * what a filtered query cannot afford to scan, and a post-hoc
    * filter on an unfiltered top-k under-fills k (the knn_filtered
    * correctness trap).
    *
    * Served shape: [[queryIvfPq]]'s — the index's collected artifacts
    * plus three collects. The query rows' collect also reads each
    * query's label, and the candidate lookup reads each candidate's
    * label, so the output label keeps the source column's type.
    *
    * Probe width defaults to [[Similarity.FilteredNProbe]] — the
    * selective filter must reach deeper into the global ranking to
    * fill k same-label slots, and the widened probe still scans fewer
    * post-filter codes than the unfiltered default width scans
    * overall. The kernel compares the filter column AS LONG (integral
    * metadata; a string-labeled deployment dictionary-encodes first).
    * Output: (query_id, neighbor_id, label, rank, cosine) — exact
    * cosines, the ADC order only shapes the candidate cut. */
  def queryIvfPqFiltered(index: IvfPqIndex, vectors: DataFrame,
                         queryIds: Seq[Long], k: Int = K,
                         nprobe: Int = Similarity.FilteredNProbe,
                         filterCol: String = "label",
                         basis: Array[Array[Double]] = null): DataFrame = {
    requireFilterCol(index, filterCol)
    val vnl = floatCorpus(vectors, Some(filterCol))
    val empty = vectors.limit(0).select(
      col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
      col(filterCol).as("label"), lit(0).as("rank"), lit(0.0).as("cosine"))
    val (qRows, qLab) = queryRowsOf(vnl, queryIds, labeled = true)
    if (qRows.isEmpty) return empty
    servedTopK(vnl, qRows,
      topKScan(index, qRows, qLab, nprobe, basis, Some(filterCol)).collect(),
      k, empty.schema)
  }

  private def requireFilterCol(index: IvfPqIndex, filterCol: String): Unit =
    require(index.codes.columns.contains(filterCol),
      s"index codes carry no '$filterCol' column — " +
        s"build the index with metaCols = Seq(\"$filterCol\")")

  /** Driver query (key `knn_ivf_pq_filtered`): the filtered serving
    * path run END TO END through the cross-engine gate — build with
    * the label riding the code postings, stage durably, read back,
    * and answer same-label top-k with the predicate inside the
    * compressed scan. The oracle replays the composed IVFADC search
    * with the `lab` CTE joined on both sides and the widened
    * [[Similarity.FilteredNProbe]] probe cut. */
  def knnIvfPqFiltered(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val path = graft.operators.Scratch.reuseDir("ivf_pq_filtered_idx")
    writeIvfPqIndex(buildIvfPq(vectors, metaCols = Seq("label")), path)
    queryIvfPqFiltered(readIvfPqIndex(spark, path), vectors,
      0L until NQueries.toLong)
  }

  /** The radius forms' stateless admission scan: cell-pruned, each
    * probed candidate's ADC sum against the cut adist ≤ 2(1−τ) (with
    * `filterCol`, same-label candidates only). No heap, no window —
    * the admitted set is data-dependent, so it stays distributed.
    * Rows: (query_id, vec_id). */
  private def radiusScan(index: IvfPqIndex, qRows: Array[(Long, Array[Double], Double)],
                         qLab: Map[Long, Long], tau: Double, nprobe: Int,
                         basis: Array[Array[Double]],
                         filterCol: Option[String]): DataFrame = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    val p = probed(index, qRows, nprobe, basis)
    val (qIds, probesByQ, dtByQ) = (p.qIds, p.probesByQ, p.dtByQ)
    val codeRank = index.codeRank
    val filtered = filterCol.isDefined
    // 2(1−τ) in IEEE — exactly representable for the driver's τ=0.25;
    // the oracle embeds the same computed double via strtod
    val admitD2 = 2.0 * (1.0 - tau)
    probedCodes(index, p.probedCells, filterCol)
      .as[(Long, Long, Array[Long], Long)]
      .mapPartitions { it =>
        it.flatMap { case (vid, cell, cs, lab) =>
          qIds.iterator
            .filter(q => q != vid && (!filtered || qLab(q) == lab) &&
              probesByQ(q).contains(cell))
            .map { q =>
              val dtm = dtByQ(q)
              var acc = 0.0
              var m = 0
              while (m < M) { acc += dtm(m)(codeRank(m)(cs(m))); m += 1 }
              (q, vid, acc)
            }
            .filter(_._3 <= admitD2)
        }
      }
      .toDF("query_id", "vec_id", "adist")
      .select(col("query_id"), col("vec_id"))
  }

  /** The radius forms' exact verify: the admitted pairs join the float
    * corpus on vec_id (a shuffle join — the admitted set is
    * data-dependent) and the query side, a local relation built from
    * the already-collected query rows, then keep cosine ≥ τ. */
  private def radiusVerify(cand: DataFrame, vn: DataFrame,
                           qRows: Array[(Long, Array[Double], Double)],
                           tau: Double, labeled: Boolean): DataFrame = {
    val spark = vn.sparkSession
    import spark.implicits._
    val qSide = broadcast(qRows.toSeq.toDF("query_id", "qe", "qnrm"))
    cand.join(vn, "vec_id").join(qSide, "query_id")
      .select(Seq(col("query_id"), col("vec_id").as("neighbor_id")) ++
        (if (labeled) Seq(col("label")) else Nil) ++
        Seq(V.cosineWithNorms(V.dot(col("e"), col("qe")), col("nrm"), col("qnrm"))
          .as("cosine")): _*)
      .filter(col("cosine") >= tau)
  }

  /** RADIUS query off the STAGED compressed index (key
    * `knn_ivf_pq_radius`) — range search at the ADC scan's byte cost,
    * completing the radius row of the query-type × tier matrix
    * (float [[Similarity.queryIvfIndexRadius]], SQ8
    * [[Quantize.querySq8IndexRadius]], PQ here). The codes are
    * encoded from the UNIT-normalized corpus, so on the sphere
    * |q−x|² = 2−2cos and the cosine admission cos̃ ≥ τ is the ADC
    * distance cut adist ≤ 2(1−τ) — a STATELESS filter inside the
    * cell-pruned code scan (no heap, no window, the radius
    * discipline), then the bounded admitted set is exact-verified
    * against the float corpus so every emitted row genuinely clears τ
    * (precision 1.0 by construction; recall bounded by the probe cut
    * and the ADC quantization error — coarser than SQ8's, which is
    * why the verify step is not optional on this tier).
    *
    * 100 TB: probes bound the scan to ~nprobe/C of the codes, the
    * τ-filter collapses the candidate stream before any shuffle, and
    * the float corpus is touched only for the Q query rows (collected
    * once; the verify's query side is built from them) and the
    * |admitted|-sized verify sliver. The admitted set is
    * data-dependent, so unlike top-k's Rerank·Q sliver it is NOT
    * collected — the verify join shuffles on vec_id. */
  def queryIvfPqRadius(index: IvfPqIndex, vectors: DataFrame,
                       queryIds: Seq[Long],
                       tau: Double = Similarity.RadiusTau,
                       nprobe: Int = Similarity.IvfNProbe,
                       basis: Array[Array[Double]] = null): DataFrame = {
    val vn = floatCorpus(vectors, None)
    val (qRows, _) = queryRowsOf(vn, queryIds, labeled = false)
    if (qRows.isEmpty)
      return vectors.limit(0).select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        lit(0.0).as("cosine"))
    radiusVerify(radiusScan(index, qRows, Map.empty, tau, nprobe, basis, None),
      vn, qRows, tau, labeled = false)
  }

  /** FILTERED RADIUS off the staged compressed index (key
    * `knn_ivf_pq_radius_filtered`): [[queryIvfPqRadius]]'s stateless
    * adist ≤ 2(1−τ) admission with [[queryIvfPqFiltered]]'s label
    * predicate INSIDE the code scan at the [[Similarity
    * .FilteredNProbe]] widening — the dedup-audit query shape served
    * off the compressed tier. A rejected candidate costs one long
    * compare before any ADC sum; the bounded same-label admitted set
    * exact-verifies against the float corpus (precision 1.0 — the
    * radius contract). Output (query_id, neighbor_id, label, cosine);
    * the label joins from the corpus projection so its type is the
    * source column's. Accepts the rotation seam (`basis`) so the OPQ
    * tier serves this type through the same definition. */
  def queryIvfPqRadiusFiltered(index: IvfPqIndex, vectors: DataFrame,
                               queryIds: Seq[Long],
                               tau: Double = Similarity.RadiusTau,
                               nprobe: Int = Similarity.FilteredNProbe,
                               filterCol: String = "label",
                               basis: Array[Array[Double]] = null): DataFrame = {
    requireFilterCol(index, filterCol)
    val vnl = floatCorpus(vectors, Some(filterCol))
    val (qRows, qLab) = queryRowsOf(vnl, queryIds, labeled = true)
    if (qRows.isEmpty)
      return vectors.limit(0).select(
        col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        col(filterCol).as("label"), lit(0.0).as("cosine"))
    radiusVerify(
      radiusScan(index, qRows, qLab, tau, nprobe, basis, Some(filterCol)),
      vnl, qRows, tau, labeled = true)
  }

  /** Driver query (key `knn_ivf_pq_radius_filtered`): build with the
    * label riding the codes, stage, read back, answer the same-label
    * radius query inside the compressed scan. */
  def knnIvfPqRadiusFiltered(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val path = graft.operators.Scratch.reuseDir("ivf_pq_radius_filt_idx")
    writeIvfPqIndex(buildIvfPq(vectors, metaCols = Seq("label")), path)
    queryIvfPqRadiusFiltered(readIvfPqIndex(spark, path), vectors,
      0L until NQueries.toLong)
  }

  /** Driver query (key `knn_ivf_pq_radius`): build, stage durably,
    * read back, answer the radius query off the compressed codes. */
  def knnIvfPqRadius(spark: SparkSession, dir: String): DataFrame = {
    val vectors = Tables.embeddings(spark, dir)
    val path = graft.operators.Scratch.reuseDir("ivf_pq_radius_idx")
    writeIvfPqIndex(buildIvfPq(vectors), path)
    queryIvfPqRadius(readIvfPqIndex(spark, path), vectors,
      0L until NQueries.toLong)
  }

  /** Full DuckDB replay of the composed IVFADC search: the shared IVF
    * index prefix (auto-sized C, the executor's knob) + the PQ build
    * CTEs (suffixed `p` to avoid colliding with the prefix's
    * seed/centroid names) + cell-pruned ADC + exact rerank. */
  val knnIvfPqOracleSql: String = ivfPqOracleSqlFor(trained = false)

  /** The replay with training decoupled from indexing (key
    * `knn_ivf_pq_append`): Lloyd AND the PQ codebooks see only the
    * day-0 base half, every vector is assigned + encoded against
    * those frozen artifacts — the SQL twin of the append lifecycle
    * `appendToIvfPq(buildIvfPq(base), rest)` via the spec-proven
    * `buildIvfPq(all, trainOn = base)` equation. */
  val knnIvfPqAppendOracleSql: String = ivfPqOracleSqlFor(trained = true)

  /** The replay of the erasure lifecycle (key `knn_ivf_pq_delete`):
    * the classic full-corpus build with ids [[DeleteLo]]..[[DeleteHi]]
    * excluded from candidate enumeration — the SQL twin of deleting
    * their code rows from the staged index while centroids and
    * codebooks (trained aggregates) stand. */
  val knnIvfPqDeleteOracleSql: String = ivfPqOracleSqlFor(trained = false,
    erasedPred = s"c.vec_id BETWEEN $DeleteLo AND $DeleteHi")

  /** The filtered replay (key `knn_ivf_pq_filtered`): the classic
    * composed search with the `lab` CTE joined on both sides — the
    * query side picks up `qlabel`, candidate enumeration keeps only
    * same-label codes (the predicate the executor evaluates inside
    * the compressed scan), and the probe cut widens to
    * [[Similarity.FilteredNProbe]] (the knn_filtered discipline). */
  val knnIvfPqFilteredOracleSql: String =
    ivfPqOracleSqlFor(trained = false, filtered = true)

  /** The radius replay (key `knn_ivf_pq_radius`): the classic
    * composed build + probes + ADC, candidate admission swapped from
    * the ranked Rerank cut to the distance threshold adist ≤ 2(1−τ)
    * (the unit-sphere image of the cosine admission), exact verify on
    * the true cosine — both thresholds strtod-embedded. */
  val knnIvfPqRadiusOracleSql: String =
    ivfPqOracleSqlFor(trained = false, radius = true)

  /** The filtered-radius replay (key `knn_ivf_pq_radius_filtered`):
    * the composed build + qlabel-carrying probes at the widened cut +
    * same-label candidate enumeration + the distance-threshold
    * admission + the exact radius verify carrying the label. */
  val knnIvfPqRadiusFilteredOracleSql: String =
    ivfPqOracleSqlFor(trained = false, filtered = true, radius = true)

  /** One template, two training policies: `trained = true` swaps in
    * the trained-half IVF prefix and restricts the PQ seed pick
    * (`sdp`) and codebook-training assignment (`fap`) to the base
    * slice (`unpt`/`svpt`); encoding (`codesp`), probes, ADC, and
    * rerank always run over the FULL corpus. `erasedPred` (a predicate
    * over the candidate alias `c`) drops erased ids at candidate
    * enumeration — everything trained or probed stays as built.
    * `filtered = true` rides the label through probes and candidate
    * enumeration and widens the probe cut. `radius = true` swaps the
    * ranked candidate cut for the distance-threshold admission and
    * the final top-k window for the radius verify. With `trained =
    * false` and no predicate and no flag this emits the classic
    * composed replay byte-for-byte. */
  private def ivfPqOracleSqlFor(trained: Boolean,
                                erasedPred: String = null,
                                filtered: Boolean = false,
                                radius: Boolean = false): String = {
    val dim = 64
    val sub = dim / M
    import Similarity.{sqlDot, IvfNProbe}
    def d2(a: String, b: String): String =
      s"((${sqlDot(a, a)} - (2.0 * ${sqlDot(a, b)})) + ${sqlDot(b, b)})"
    val prefix =
      if (trained) Similarity.ivfIdxOraclePrefixTrainedHalf
      else Similarity.ivfIdxOraclePrefix
    val trainCtes =
      if (trained)
        s"""unpt AS (
           |  SELECT * FROM unp WHERE vec_id <= (SELECT cut FROM cutv)
           |), svpt AS (
           |  SELECT * FROM svp WHERE vec_id <= (SELECT cut FROM cutv)
           |), """.stripMargin
      else ""
    val tun = if (trained) "unpt" else "unp"
    val tsv = if (trained) "svpt" else "svp"
    val nprobe = if (filtered) Similarity.FilteredNProbe else IvfNProbe
    val labCte =
      if (filtered) "lab AS (\n  SELECT vec_id, label FROM embeddings\n), "
      else ""
    val probesCte =
      if (filtered)
        s"""probes AS (
           |  SELECT query_id, qlabel, cell FROM (
           |    SELECT q.vec_id AS query_id, ql.label AS qlabel, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${sqlDot("q.e", "c.ce")} / (q.nrm * c.cnr) DESC, c.cell) AS rk
           |    FROM vn q JOIN lab ql ON q.vec_id = ql.vec_id
           |    CROSS JOIN cc c WHERE q.vec_id < $NQueries) t
           |  WHERE rk <= $nprobe
           |)""".stripMargin
      else
        s"""probes AS (
           |  SELECT query_id, cell FROM (
           |    SELECT q.vec_id AS query_id, c.cell,
           |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
           |        ${sqlDot("q.e", "c.ce")} / (q.nrm * c.cnr) DESC, c.cell) AS rk
           |    FROM vn q CROSS JOIN cc c WHERE q.vec_id < $NQueries) t
           |  WHERE rk <= $nprobe
           |)""".stripMargin
    s"""$prefix, $labCte$probesCte, unp AS (
       |  SELECT vec_id, list_transform(e, x -> x / nrm) AS u, cell FROM idx
       |), msp AS (
       |  SELECT unnest(generate_series(0, ${M - 1})) AS m
       |), svp AS (
       |  SELECT vec_id, m, list_slice(u, m*$sub + 1, (m+1)*$sub) AS s, cell
       |  FROM unp CROSS JOIN msp
       |), ${trainCtes}sdp AS (
       |  SELECT vec_id FROM (
       |    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rk FROM $tun) t
       |  WHERE rk <= $Kc
       |), seedsp AS (
       |  SELECT s.vec_id AS code0, s.m, s.s AS cs FROM svp s JOIN sdp ON s.vec_id = sdp.vec_id
       |), fap AS (
       |  SELECT vec_id, m, code0 AS code, s FROM (
       |    SELECT x.vec_id, x.m, c.code0, x.s,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m ORDER BY
       |        ${d2("x.s", "c.cs")}, c.code0) AS rk
       |    FROM $tsv x JOIN seedsp c ON x.m = c.m) t
       |  WHERE rk = 1
       |), elemsp AS (
       |  SELECT m, code, unnest(generate_series(1, len(s))) AS pos, s FROM fap
       |), meansp AS (
       |  SELECT m, code, pos,
       |    CAST(SUM(CAST(s[pos] AS DECIMAL(30,10))) AS DOUBLE) / COUNT(s[pos]) AS mean
       |  FROM elemsp GROUP BY m, code, pos
       |), centsp AS (
       |  SELECT m, code, list(mean ORDER BY pos) AS cs FROM meansp GROUP BY m, code
       |), codesp AS (
       |  SELECT vec_id, m, code, cell FROM (
       |    SELECT x.vec_id, x.m, c.code, x.cell,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m ORDER BY
       |        ${d2("x.s", "c.cs")}, c.code) AS rk
       |    FROM svp x JOIN centsp c ON x.m = c.m) t
       |  WHERE rk = 1
       |), dtp AS (
       |  SELECT q.vec_id AS query_id, c.m, c.code, ${d2("q.s", "c.cs")} AS d2
       |  FROM svp q JOIN centsp c ON q.m = c.m
       |  WHERE q.vec_id < $NQueries
       |), adist AS (
       |  SELECT t.query_id, t.vec_id,
       |    list_reduce(list(t.d2 ORDER BY t.m), (x, y) -> x + y) AS adist
       |  FROM (
       |    SELECT d.query_id, c.vec_id, c.m, d.d2
       |    FROM codesp c
       |    JOIN probes p ON p.cell = c.cell${
             if (!filtered) ""
             else "\n    JOIN lab l ON c.vec_id = l.vec_id"}
       |    JOIN dtp d ON c.m = d.m AND c.code = d.code AND d.query_id = p.query_id
       |    WHERE c.vec_id != d.query_id${
             if (!filtered) "" else " AND l.label = p.qlabel"}${
             if (erasedPred == null) "" else s" AND NOT ($erasedPred)"}) t
       |  GROUP BY t.query_id, t.vec_id
       |), cand AS (${
           if (radius)
             s"""
       |  SELECT query_id, vec_id FROM adist
       |  WHERE adist <= CAST('${2.0 * (1.0 - Similarity.RadiusTau)}' AS DOUBLE)""".stripMargin
           else
             s"""
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS crk
       |    FROM adist) t
       |  WHERE crk <= $Rerank""".stripMargin}
       |)${
           if (radius)
             s"""
       |SELECT query_id, neighbor_id,${
           if (filtered) " label," else ""} cosine FROM (
       |  SELECT cd.query_id, cd.vec_id AS neighbor_id,${
           if (filtered) " lo.label," else ""}
       |    ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) AS cosine
       |  FROM cand cd
       |  JOIN vn b ON cd.vec_id = b.vec_id
       |  JOIN vn a ON cd.query_id = a.vec_id${
           if (!filtered) ""
           else "\n  JOIN lab lo ON cd.vec_id = lo.vec_id"}) t
       |WHERE cosine >= CAST('${Similarity.RadiusTau}' AS DOUBLE)""".stripMargin
           else
             s"""
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
       |WHERE rk <= $K""".stripMargin}""".stripMargin
  }

  /** The PQ build/encode/ADC/cut replay as a CTE tail over an
    * arbitrary unit frame `unFrame` (vec_id, u: DOUBLE[dim]) plus the
    * final exact-rerank SELECT against `vn` — shared by the knn_pq
    * oracle (unFrame = the unit-normalized corpus at dim 64), the
    * knn_opq oracle (unFrame = the replayed PCA-rotated corpus at
    * dim = [[Opq.OpqComponents]]), and — suffixed and cell-pruned —
    * the knn_ivf_opq oracle.
    *
    * `sfx` suffixes every CTE name (composing under a prefix that
    * already defines `seeds`/`fa`/`elems`/`means`/`cents` — the IVF
    * build does). `cellPruned` expects `unFrame` to carry a third
    * `cell` column and a `probes(query_id, cell)` CTE upstream, and
    * restricts candidate enumeration to each query's probed cells —
    * the ONLY change pruning makes (the knn_ivf_pq discipline).
    * `filtered` (requires `cellPruned`) mirrors
    * [[ivfPqOracleSqlFor]]'s filtered deltas onto this tail: a `lab`
    * CTE and a probes CTE carrying `qlabel` must exist upstream,
    * candidate enumeration keeps same-label codes only, and the
    * final select emits the label. `radius` swaps the ranked Rerank
    * cut for the adist ≤ 2(1−τ) admission and the top-k window for
    * the exact radius verify; `filtered ∧ radius` composes — the
    * radius verify then carries the label and its lab join, mirroring
    * [[ivfPqOracleSqlFor]]'s filtered-radius tail (the
    * knn_ivf_opq_radius_filtered key — r17 advice closed). Defaults
    * emit the prior text byte-for-byte (hash-gate stability for every
    * existing key). */
  private[operators] def pqAdcOracleTail(unFrame: String, dim: Int,
                                         sfx: String = "",
                                         cellPruned: Boolean = false,
                                         filtered: Boolean = false,
                                         radius: Boolean = false,
                                         trained: Boolean = false,
                                         erasedPred: String = null): String = {
    require(!filtered || cellPruned,
      "a filtered ADC tail rides qlabel on the probes CTE — cell pruning required")
    val sub = dim / M
    import Similarity.sqlDot
    def d2(a: String, b: String): String =
      s"((${sqlDot(a, a)} - (2.0 * ${sqlDot(a, b)})) + ${sqlDot(b, b)})"
    val cellSel = if (cellPruned) ", cell" else ""
    val pruneJoin =
      if (cellPruned)
        s"""
           |    JOIN probes p ON p.cell = c.cell AND p.query_id = d.query_id""".stripMargin
      else ""
    // trained = true: seeds and Lloyd means see only the base slice
    // (an upstream `cutv` CTE supplies the cut — the trained rotated
    // prefix defines it); encoding, probes, ADC, rerank stay full
    val trainCtes =
      if (!trained) ""
      else s"""unt$sfx AS (
           |  SELECT * FROM $unFrame WHERE vec_id <= (SELECT cut FROM cutv)
           |), svt$sfx AS (
           |  SELECT * FROM sv$sfx WHERE vec_id <= (SELECT cut FROM cutv)
           |), """.stripMargin
    val tun = if (trained) s"unt$sfx" else unFrame
    val tsv = if (trained) s"svt$sfx" else s"sv$sfx"
    s"""ms$sfx AS (
       |  SELECT unnest(generate_series(0, ${M - 1})) AS m
       |), sv$sfx AS (
       |  SELECT vec_id, m, list_slice(u, m*$sub + 1, (m+1)*$sub) AS s$cellSel
       |  FROM $unFrame CROSS JOIN ms$sfx
       |), ${trainCtes}sd$sfx AS (
       |  SELECT vec_id FROM (
       |    SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rk FROM $tun) t
       |  WHERE rk <= $Kc
       |), seeds$sfx AS (
       |  SELECT s.vec_id AS code0, s.m, s.s AS cs FROM sv$sfx s JOIN sd$sfx ON s.vec_id = sd$sfx.vec_id
       |), fa$sfx AS (
       |  SELECT vec_id, m, code0 AS code, s FROM (
       |    SELECT x.vec_id, x.m, c.code0, x.s,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m ORDER BY
       |        ${d2("x.s", "c.cs")}, c.code0) AS rk
       |    FROM $tsv x JOIN seeds$sfx c ON x.m = c.m) t
       |  WHERE rk = 1
       |), elems$sfx AS (
       |  SELECT m, code, unnest(generate_series(1, len(s))) AS pos, s FROM fa$sfx
       |), means$sfx AS (
       |  SELECT m, code, pos,
       |    CAST(SUM(CAST(s[pos] AS DECIMAL(30,10))) AS DOUBLE) / COUNT(s[pos]) AS mean
       |  FROM elems$sfx GROUP BY m, code, pos
       |), cents$sfx AS (
       |  SELECT m, code, list(mean ORDER BY pos) AS cs FROM means$sfx GROUP BY m, code
       |), codes$sfx AS (
       |  SELECT vec_id, m, code$cellSel FROM (
       |    SELECT x.vec_id, x.m, c.code$cellSel,
       |      ROW_NUMBER() OVER (PARTITION BY x.vec_id, x.m ORDER BY
       |        ${d2("x.s", "c.cs")}, c.code) AS rk
       |    FROM sv$sfx x JOIN cents$sfx c ON x.m = c.m) t
       |  WHERE rk = 1
       |), dt$sfx AS (
       |  SELECT q.vec_id AS query_id, c.m, c.code, ${d2("q.s", "c.cs")} AS d2
       |  FROM sv$sfx q JOIN cents$sfx c ON q.m = c.m
       |  WHERE q.vec_id < $NQueries
       |), adist$sfx AS (
       |  SELECT t.query_id, t.vec_id,
       |    list_reduce(list(t.d2 ORDER BY t.m), (x, y) -> x + y) AS adist
       |  FROM (
       |    SELECT d.query_id, c.vec_id, c.m, d.d2
       |    FROM codes$sfx c JOIN dt$sfx d ON c.m = d.m AND c.code = d.code$pruneJoin${
             if (!filtered) ""
             else "\n    JOIN lab l ON c.vec_id = l.vec_id"}
       |    WHERE c.vec_id != d.query_id${
             if (!filtered) "" else " AND l.label = p.qlabel"}${
             if (erasedPred == null) "" else s" AND NOT ($erasedPred)"}) t
       |  GROUP BY t.query_id, t.vec_id
       |), cand$sfx AS (${
           if (radius)
             s"""
       |  SELECT query_id, vec_id FROM adist$sfx
       |  WHERE adist <= CAST('${2.0 * (1.0 - Similarity.RadiusTau)}' AS DOUBLE)""".stripMargin
           else
             s"""
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adist, vec_id) AS crk
       |    FROM adist$sfx) t
       |  WHERE crk <= $Rerank""".stripMargin}
       |)${
           if (radius)
             s"""
       |SELECT query_id, neighbor_id,${
           if (filtered) " label," else ""} cosine FROM (
       |  SELECT cd.query_id, cd.vec_id AS neighbor_id,${
           if (filtered) " lo.label," else ""}
       |    ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) AS cosine
       |  FROM cand$sfx cd
       |  JOIN vn b ON cd.vec_id = b.vec_id
       |  JOIN vn a ON cd.query_id = a.vec_id${
           if (!filtered) ""
           else "\n  JOIN lab lo ON cd.vec_id = lo.vec_id"}) t
       |WHERE cosine >= CAST('${Similarity.RadiusTau}' AS DOUBLE)""".stripMargin
           else
             s"""
       |SELECT query_id, vec_id AS neighbor_id,${
           if (filtered) " label," else ""} CAST(rk AS INTEGER) AS rank, cosine FROM (
       |  SELECT cd.query_id, cd.vec_id,${
           if (filtered) " lo.label," else ""}
       |    ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) AS cosine,
       |    ROW_NUMBER() OVER (PARTITION BY cd.query_id ORDER BY
       |      ${sqlDot("b.e", "a.e")} / (b.nrm * a.nrm) DESC, cd.vec_id) AS rk
       |  FROM cand$sfx cd
       |  JOIN vn b ON cd.vec_id = b.vec_id
       |  JOIN vn a ON cd.query_id = a.vec_id${
           if (!filtered) ""
           else "\n  JOIN lab lo ON cd.vec_id = lo.vec_id"}) t
       |WHERE rk <= $K""".stripMargin}""".stripMargin
  }

  /** Full DuckDB replay of the PQ search — build, encode, ADC, and
    * rerank, step for step: the shared tail over the unit-normalized
    * corpus. Dim is pinned to the driver corpus's 64 (an oracle
    * string cannot probe data; the LSH oracle precedent). */
  val knnPqOracleSql: String = {
    import Similarity.sqlNorm
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), vn AS (
       |  SELECT vec_id, e, ${sqlNorm("e")} AS nrm FROM v
       |), un AS (
       |  SELECT vec_id, list_transform(e, x -> x / nrm) AS u FROM vn
       |), ${pqAdcOracleTail("un", 64)}""".stripMargin
  }
}
