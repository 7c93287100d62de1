package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVFADC — the inverted-file + product-quantization composite (Jégou,
  * Douze, Schmid 2011, §IV "combination with an inverted file system"):
  * the fourth ANN family, and the one production systems actually deploy
  * at billion-vector scale (FAISS `IVFx,PQy`). IVF alone still scans full
  * 256 B vectors in the probed lists; PQ alone still ADC-scans the WHOLE
  * corpus. The composite does neither: a coarse quantizer routes the
  * query to `nProbe` inverted lists, and within those lists vectors are
  * ranked by ADC over 8 B RESIDUAL codes — per query, ~nProbe/nLists of
  * the corpus at 1/32 the bytes.
  *
  * Residual encoding is the paper's key move: PQ codes the OFFSET from
  * the assigned coarse centroid, not the raw vector. Residuals
  * concentrate near the origin, so the same 16×16 codebook spends its
  * codewords on a tighter distribution. On the ISOTROPIC synthetic
  * embeddings the coarse clusters barely concentrate, so the measured
  * edge is small (shortlist-50 recall@10: 0.87 residual vs 0.86 raw at
  * sf0.01 — IvfPqSpec asserts matches-or-beats); on real clustered
  * corpora the gap is the reason IVFADC is the deployed default.
  * Shipped-default recall@10 measures 0.97 at sf0.01 (IvfPqSpec).
  *
  * Exact-replay recipe, every stage engine-replayable:
  *  - coarse quantizer = the IVF geometry verbatim ([[Ann.ivfProj]] +
  *    raw-space [[graft.ml.DetKMeans]], the ann_ivf oracle's fit);
  *  - residuals are EXACT INTEGERS: the coarse centroid is
  *    floor-quantized per dimension (`floor(g_i)` — one portable double
  *    op), so `r_i = x_i − floor(g_i)` stays at the q20 integer scale and
  *    the residual codebook trains through the same decimal-exact
  *    DetKMeans sums as every other fit (an exact mean would make
  *    residuals non-integer rationals; sub-unit centroid error at the
  *    2^20 scale is noise, and faiss quantizes coarse centroids to
  *    float32 for the same reason);
  *  - the shared residual codebook is [[Pq]]'s single-fit form (one
  *    oracle replay, not M — the CTE-budget lesson);
  *  - per-(query, probed-list) ADC tables are driver-built constants
  *    (the Pq codegen-budget lesson: ~70 rows of 16×16 doubles, IEEE
  *    left-assoc identical to the oracle's UNION-ALL form);
  *  - the ADC scan joins codes to the broadcast tables ON THE LIST ID —
  *    the inverted-file restriction is the join itself, no filter pass;
  *  - exact fixed-point-cosine re-rank over the adaptive shortlist.
  *
  * Scale shape: fit + encode are one-time (persisted-index variants of
  * the siblings apply verbatim); the per-query scan is
  * (nProbe/nLists)·n code rows × 16 array lookups, shuffle-free (codes
  * join a broadcast), and the only window is the per-query shortlist. */
object IvfPq {

  /** Coarse geometry: the ann_ivf size-derived defaults
    * ([[Ann.nListsFor]] over the distinct projected-vector count; probe
    * default piecewise via [[Ann.ivfDefaultProbe]] — 7/8 coverage in the
    * min-clamp regime (nLists ≤ 8), 3/4 coverage at size-derived
    * nLists > 8, both measured ≥0.9-recall floors); residual PQ
    * geometry: the ann_pq defaults (16 subspaces × 16 codewords =
    * 8 B/vector). */

  /** (query_id, vec_id, cos_sim, rank) top-k per query — the standard ANN
    * surface. Recall = IVF's probed-list coverage × the residual-ADC
    * shortlist quality; both knobs exposed. */
  def ivfPqTopK(spark: SparkSession, dir: String, k: Int = 10,
                nLists: Int = 0, nProbe: Int = 0,
                nCodes: Int = Pq.CodeBook, subSpaces: Int = Pq.SubSpaces,
                shortlist: Int = 0): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val rerank =
      if (shortlist > 0) shortlist
      else Pq.adaptiveShortlist(Ann.cachedCount(emb.select("vec_id")))
    val xs = (0 until Ann.IvfDims).map(i => s"x$i")
    val feats = Ann.ivfProj(emb, "embedding").persist()
    val lists =
      if (nLists > 0) nLists else Ann.nListsFor(Ann.distinctFeatCount(feats))

    // 1. coarse quantizer (the ann_ivf fit, cached across queries)
    val (assigned, cmodel) = graft.ml.DetKMeans.fitCached(
      feats, "vec_id", xs, lists, Ann.IvfIters, standardize = false,
      rankInit = true)
    // adaptive probe default reads the coarse FIT (r17, see Ann)
    val probes = if (nProbe > 0) nProbe
      else Ann.adaptiveProbe(lists, Ann.isClustered(assigned, cmodel.centers))

    // 2. floor-quantized coarse centroids (LONG) → exact integer residuals
    val fc = floorCentroids(cmodel.centers)
    import spark.implicits._
    val fcDf = fc.toIndexedSeq.zipWithIndex
      .map { case (row, c) => (c.toLong, row.toSeq) }.toDF("cluster", "fcv")
    val resid = assigned.select(col("vec_id") +: col("cluster") +: xs.map(col): _*)
      .join(broadcast(fcDf), "cluster")
      .select(col("vec_id") +:
        (0 until Ann.IvfDims).map(i =>
          (col(s"x$i") - element_at(col("fcv"), i + 1)).as(s"x$i")) :+
        col("cluster"): _*)
      .persist() // the shared-codebook fit stacks this frame subSpaces×

    // 3. shared residual codebook + per-vector codes (the ann_pq fit);
    //    `cluster` rides the codes projection instead of a full-corpus
    //    join back onto `assigned` (optimization r17, guide §2.4)
    val (codesWithList0, pmodel) =
      Pq.fitSharedCodebook(resid, nCodes, subSpaces, carry = Seq("cluster"))
    val codesWithList = codesWithList0
      .localCheckpoint(false) // scanned once per query batch; 18 narrow cols

    val qRows = feats.filter(col("vec_id") < 10)
      .select(col("vec_id") +: xs.map(col): _*).collect()
    resid.unpersist()
    feats.unpersist()
    scoreWithArtifacts(spark, emb, codesWithList, cmodel.centers, fc,
      pmodel.centers, qRows, lists, probes, nCodes, subSpaces, rerank, k)
  }

  private def floorCentroids(centers: Array[Array[Double]]): Array[Array[Long]] =
    centers.map(_.map(g => math.floor(g).toLong))

  /** Steps 4-6 shared by the fit-per-session and persisted-index paths:
    * driver-side probe ranking + per-(query, list) ADC tables, the
    * broadcast list-restricted ADC scan, the adaptive shortlist window,
    * and the exact fixed-point-cosine re-rank. Bit-identical for the same
    * (codesWithList, coarse centers, codebook) however obtained. */
  private def scoreWithArtifacts(spark: SparkSession, emb: DataFrame,
                                 codesWithList: DataFrame,
                                 coarse: Array[Array[Double]],
                                 fc: Array[Array[Long]],
                                 pcenters: Array[Array[Double]],
                                 qRows: Array[org.apache.spark.sql.Row],
                                 nLists: Int, probes: Int, nCodes: Int,
                                 subSpaces: Int, rerank: Int, k: Int): DataFrame = {
    val subDim = Ann.IvfDims / subSpaces
    // 4. driver-side query prep (bounded: 10 query rows × nProbe lists).
    //    Probe selection replays the oracle's (d², cluster) ranking with
    //    the same left-assoc IEEE arithmetic; ADC tables are the Pq
    //    driver-constant recipe per probed list.
    val qarrRows = qRows.flatMap { r =>
      val qx = Array.tabulate(Ann.IvfDims)(i => r.getLong(1 + i))
      val byDist = (0 until nLists).map { c =>
        var acc = 0.0
        var i = 0
        while (i < Ann.IvfDims) { // left-assoc: ((d0²+d1²)+d2²)+…
          val diff = qx(i).toDouble - coarse(c)(i)
          val sq = diff * diff
          acc = if (i == 0) sq else acc + sq
          i += 1
        }
        (acc, c)
      }.sortBy { case (d, c) => (d, c) }.take(probes)
      byDist.map { case (_, list) =>
        val qr = Array.tabulate(Ann.IvfDims)(i => qx(i) - fc(list)(i))
        val tables = (0 until subSpaces).map { m =>
          (0 until nCodes).map { j =>
            var acc = 0.0
            var i = 0
            while (i < subDim) { // left-assoc, ascending dims
              val diff = qr(subDim * m + i).toDouble - pcenters(j)(i)
              val sq = diff * diff
              acc = if (i == 0) sq else acc + sq
              i += 1
            }
            acc
          }
        }
        org.apache.spark.sql.Row.fromSeq(r.getLong(0) +: list.toLong +: tables)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType) +:
        org.apache.spark.sql.types.StructField("cluster",
          org.apache.spark.sql.types.LongType) +:
        (0 until subSpaces).map(m => org.apache.spark.sql.types.StructField(
          s"a$m", org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType))))
    val qarr = spark.createDataFrame(
      spark.sparkContext.parallelize(qarrRows.toSeq, 1), schema)

    // 5. inverted-file ADC scan: the cluster join IS the list restriction
    val approx = (0 until subSpaces).map { m =>
      element_at(col(s"a$m"), col(s"c$m").cast("int") + 1)
    }.reduce(_ + _)
    val ws = Window.partitionBy(col("query_id")).orderBy(col("approx"), col("vec_id"))
    val short = codesWithList.join(broadcast(qarr), "cluster")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("approx", approx)
      .withColumn("__r", row_number().over(ws))
      .filter(col("__r") <= rerank)
      .select(col("query_id"), col("vec_id"))

    // 6. exact re-rank over the shortlist
    val qEmb = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    short.join(emb, "vec_id")
      .join(broadcast(qEmb), "query_id")
      .withColumn("cos_sim", Ann.fixedPointCosine(col("embedding"), col("q_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos_sim"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Driver query. */
  def annIvfPq(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    ivfPqTopK(spark, dir, k)

  // --------------------------------------------- persisted IVFADC index

  /** Persist the IVFADC index: `codes` (vec_id, cluster, c0..c{M-1} —
    * list id + 8 B of residual codes per vector, sorted within partitions
    * on the list id for rowgroup pruning on the probe join), `coarse`
    * (the nLists×64 centroid doubles — parquet round-trips them
    * bit-exactly; floor-centroids re-derive identically at read), the
    * residual `codebook`, and `meta` (geometry + corpus fingerprint,
    * written LAST as the commit marker). The two fits happen ONCE here —
    * the representation that actually ships at 100 TB: every query after
    * is a broadcast ADC-table scan over the probed lists' codes plus the
    * shortlist re-rank, no corpus-wide float math, no fit. */
  private[graft] def buildIvfPqIndex(spark: SparkSession, dir: String,
                                     indexDir: String, nLists: Int = 0,
                                     nCodes: Int = Pq.CodeBook,
                                     subSpaces: Int = Pq.SubSpaces): Unit =
    buildIvfPqIndexFrom(spark,
      graft.Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding")),
      indexDir, nLists, nCodes, subSpaces)

  private[graft] def buildIvfPqIndexFrom(spark: SparkSession, emb0: DataFrame,
                                         indexDir: String, nLists: Int = 0,
                                         nCodes: Int = Pq.CodeBook,
                                         subSpaces: Int = Pq.SubSpaces): Unit = {
    graft.Memo.invalidate("ivfpq.artifacts", indexDir) // a rebuild replaces the artifacts
    import spark.implicits._
    val emb = emb0.select(col("vec_id"), col("embedding"))
    val xs = (0 until Ann.IvfDims).map(i => s"x$i")
    val feats = Ann.ivfProj(emb, "embedding").persist()
    val lists =
      if (nLists > 0) nLists else Ann.nListsFor(Ann.distinctFeatCount(feats))
    val (assigned, cmodel) = graft.ml.DetKMeans.fitCached(
      feats, "vec_id", xs, lists, Ann.IvfIters, standardize = false,
      rankInit = true)
    // clusteredness decided at BUILD time and persisted (see Ann meta)
    val clustered = Ann.isClustered(assigned, cmodel.centers)
    val fc = floorCentroids(cmodel.centers)
    val fcDf = fc.toIndexedSeq.zipWithIndex
      .map { case (row, c) => (c.toLong, row.toSeq) }.toDF("cluster", "fcv")
    val resid = assigned.select(col("vec_id") +: col("cluster") +: xs.map(col): _*)
      .join(broadcast(fcDf), "cluster")
      .select(col("vec_id") +:
        (0 until Ann.IvfDims).map(i =>
          (col(s"x$i") - element_at(col("fcv"), i + 1)).as(s"x$i")) :+
        col("cluster"): _*)
      .persist()
    // `cluster` rides the codes projection — no corpus-wide join back
    // onto `assigned` (optimization r17, guide §2.4)
    val (codes, pmodel) =
      Pq.fitSharedCodebook(resid, nCodes, subSpaces, carry = Seq("cluster"))
    codes
      .sortWithinPartitions("cluster")
      .write.mode("overwrite").parquet(s"$indexDir/codes")
    resid.unpersist()
    feats.unpersist()
    cmodel.centers.toIndexedSeq.zipWithIndex
      .map { case (g, c) => (c.toLong, g.toSeq) }
      .toDF("c_id", "g")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/coarse")
    pmodel.centers.toIndexedSeq.zipWithIndex
      .map { case (g, j) => (j.toLong, g.toSeq) }
      .toDF("j", "g")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/codebook")
    // one corpus pass for fingerprint AND digest (was two separate aggs)
    val fp = emb.agg(count(lit(1)), max(col("vec_id")),
      expr("bit_xor(xxhash64(vec_id, embedding))")).head
    // EFFECTIVE list count (centers.length ≤ requested when n < k)
    Seq((cmodel.centers.length, lists, subSpaces, Ann.IvfDims / subSpaces,
      nCodes, Pq.PqIters,
      fp.getLong(0), if (fp.isNullAt(1)) -1L else fp.getLong(1),
      if (fp.isNullAt(2)) 0L else fp.getLong(2), clustered))
      .toDF("n_lists", "n_lists_req", "sub_spaces", "sub_dim", "n_codes",
        "iters", "nvecs", "max_vec_id", "content_digest", "clustered")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/meta")
  }

  /** Read + geometry-validate an index's meta row — shared by the
    * fit-free probe, the append writer, and the append-aware reader
    * (advice-r15: appending against a geometry-drifted index must fail
    * fast, never silently write corrupt codes into durable index state).
    * Returns (effective nLists, requested nLists, subSpaces, subDim,
    * nCodes): probe defaults derive from REQUESTED so tiny corpora
    * (effective < requested when n < 8) probe the same list count as the
    * fresh-fit path and the oracle geo CTE; the coarse-table validation
    * uses EFFECTIVE. Pre-r17 meta lacks `n_lists_req` — fall back to
    * effective (the two only diverge below the 8-clamp). */
  private def readValidatedMeta(
      spark: SparkSession, indexDir: String): (Int, Int, Int, Int, Int, Boolean) = {
    val meta = spark.read.parquet(s"$indexDir/meta").head
    val nLists = meta.getAs[Int]("n_lists")
    val nListsReq =
      if (meta.schema.fieldNames.contains("n_lists_req"))
        meta.getAs[Int]("n_lists_req") else nLists
    // pre-r17 meta lacks the flag: fall back to the isotropic default
    val clustered =
      meta.schema.fieldNames.contains("clustered") &&
        meta.getAs[Boolean]("clustered")
    val subSpaces = meta.getAs[Int]("sub_spaces")
    val nCodes = meta.getAs[Int]("n_codes")
    require(subSpaces > 0 && Ann.IvfDims % subSpaces == 0,
      s"IVFADC index at $indexDir: sub_spaces=$subSpaces does not divide " +
        s"the projection width ${Ann.IvfDims}")
    val metaSubDim = meta.getAs[Int]("sub_dim")
    require(metaSubDim == Ann.IvfDims / subSpaces,
      s"IVFADC index at $indexDir: meta sub_dim=$metaSubDim != " +
        s"${Ann.IvfDims}/$subSpaces — built under a different geometry; rebuild")
    (nLists, nListsReq, subSpaces, metaSubDim, nCodes, clustered)
  }

  /** Collect + validate the coarse-centroid table (bounded: nLists rows). */
  private def loadCoarse(spark: SparkSession, indexDir: String,
                         nLists: Int): Array[Array[Double]] = {
    val coarse = spark.read.parquet(s"$indexDir/coarse")
      .orderBy("c_id").collect().map(r => r.getSeq[Double](1).toArray)
    require(coarse.length == nLists,
      s"IVFADC index at $indexDir: coarse table has ${coarse.length} rows " +
        s"but meta says n_lists=$nLists — inconsistent index; rebuild")
    coarse
  }

  /** Collect + validate the residual codebook (bounded: nCodes rows). */
  private def loadCodebook(spark: SparkSession, indexDir: String,
                           nCodes: Int, subDim: Int): Array[Array[Double]] = {
    val pcenters = spark.read.parquet(s"$indexDir/codebook")
      .orderBy("j").collect().map(r => r.getSeq[Double](1).toArray)
    require(pcenters.length == nCodes,
      s"IVFADC index at $indexDir: codebook has ${pcenters.length} rows " +
        s"but meta says n_codes=$nCodes — inconsistent index; rebuild")
    require(pcenters.forall(_.length == subDim),
      s"IVFADC index at $indexDir: codebook centroid width != sub_dim=$subDim")
    pcenters
  }

  /** IVFADC top-k against a prebuilt index — NO fit, no corpus-wide float
    * math; bit-identical to [[ivfPqTopK]] for a fresh index over the same
    * corpus. Fails fast on geometry drift (the Pq advice-r14 contract). */
  def ivfPqTopKIndexed(spark: SparkSession, dir: String, indexDir: String,
                       k: Int = 10, nProbe: Int = 0,
                       shortlist: Int = 0): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val (nLists, nListsReq, subSpaces, metaSubDim, nCodes, clustered) =
      readValidatedMeta(spark, indexDir)
    val probes = if (nProbe > 0) nProbe
      else Ann.adaptiveProbe(nListsReq, clustered)
    val rerank =
      if (shortlist > 0) shortlist
      else Pq.adaptiveShortlist(Ann.cachedCount(emb.select("vec_id")))
    val codesWithList = spark.read.parquet(s"$indexDir/codes")
    val coarse = loadCoarse(spark, indexDir, nLists)
    val pcenters = loadCodebook(spark, indexDir, nCodes, metaSubDim)
    val xs = (0 until Ann.IvfDims).map(i => s"x$i")
    val qRows = Ann.ivfProj(emb.filter(col("vec_id") < 10), "embedding")
      .select(col("vec_id") +: xs.map(col): _*).collect()
    scoreWithArtifacts(spark, emb, codesWithList, coarse,
      floorCentroids(coarse), pcenters, qRows, nLists, probes, nCodes,
      subSpaces, rerank, k)
  }

  /** The persisted IVFADC index for `dir` ([[Ann.ensureVectorIndex]]). */
  private[graft] def ensureIvfPqIndex(spark: SparkSession, dir: String): String = {
    // size-derived coarse geometry resolved BEFORE keying (the
    // ensureIvfIndex recipe); "v2" retires v1 fixed-8 maxmin-fit dirs
    val lists = Ann.derivedLists(spark, dir)
    Ann.ensureVectorIndex(spark, "ivfpq", dir,
      s"$dir|$lists|${Pq.SubSpaces}|${Pq.CodeBook}|${Pq.PqIters}|v2")(
      buildIvfPqIndex(spark, dir, _, lists))
  }

  /** Driver query: the persisted-index IVFADC path — oracle-identical to
    * ann_ivfpq (same lists, same codes, same codebooks, precomputed). */
  def annIvfPqIndexed(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    ivfPqTopKIndexed(spark, dir, ensureIvfPqIndex(spark, dir), k)

  // ------------------------------------------ exactly-once append ingest

  /** Append a micro-batch of embeddings to a prebuilt IVFADC index with
    * FROZEN geometry (the ann_ivf_append lambda rule, fourth index
    * family): batch vectors are argmin-assigned to the existing coarse
    * lists and encoded against the existing residual codebook — refits
    * are periodic compaction campaigns, not per-batch costs. Exactly-once
    * by the write-then-mark protocol; assign-only appends never mutate
    * the settled codes, so there is no in-place fold to crash. */
  /** Per-index artifact memo for the append hot path: (geometry, coarse
    * centers, floor centers, codebook) — keeps the 3 bounded collect jobs
    * (coarse/codebook/floor) off every micro-batch. Invalidated by
    * [[buildIvfPqIndexFrom]] (in-JVM rebuild) AND re-validated against the
    * on-disk meta's `content_digest` on EVERY call (advice r16): index
    * dirs under java.io.tmpdir are shared across processes, so a rebuild
    * by another JVM must not leave this appender encoding batches against
    * the old coarse centers/codebook and committing corrupt codes into
    * the new index's durable appends/. Cost per batch: one 1-row meta
    * read — the part worth memoizing is the k-row collects, not the
    * staleness probe. */
  private def appendArtifacts(spark: SparkSession, indexDir: String)
      : (Int, Int, Array[Array[Double]], Array[Array[Long]], Array[Array[Double]]) = {
    // the build nonce: meta is written LAST by the builder (the commit
    // marker), and content_digest changes with the fitted corpus — so a
    // completed rebuild by ANY process flips the nonce this memo is
    // stamped with
    val nonce = spark.read.parquet(s"$indexDir/meta")
      .head.getAs[Long]("content_digest")
    def load() = {
      val (nLists, _, subSpaces, subDim, nCodes, _) = readValidatedMeta(spark, indexDir)
      val coarse = loadCoarse(spark, indexDir, nLists)
      val pcenters = loadCodebook(spark, indexDir, nCodes, subDim)
      (nonce, (subSpaces, subDim, coarse, floorCentroids(coarse), pcenters))
    }
    val (stamp, art) = graft.Memo.get("ivfpq.artifacts", indexDir)(load())
    if (stamp == nonce) art
    else {
      graft.Memo.invalidate("ivfpq.artifacts", indexDir)
      graft.Memo.get("ivfpq.artifacts", indexDir)(load())._2
    }
  }

  def appendToIvfPqIndex(spark: SparkSession, indexDir: String,
                         batch: DataFrame, batchId: Long): Unit = {
    val root = s"$indexDir/appends"
    if (graft.streaming.ExactlyOnce.isCommitted(spark, root, batchId)) return
    val (subSpaces, subDim, coarse, fc, pcenters) =
      appendArtifacts(spark, indexDir)

    val feats = Ann.ivfProj(
      batch.select(col("vec_id"), col("embedding")), "embedding")
    // frozen coarse argmin via the codegen'd KMeansAssign kernel (raw
    // mode: z ≡ x as double) — same left-assoc distance and ties-to-min-
    // list rule the previous crossJoin+window formulation computed, in
    // ONE projection instead of a broadcast-join + window shuffle (r16:
    // the append path was ~10 s/micro-batch of pure plan/job overhead;
    // the kernel carries the centers as one array literal, so codegen
    // stays iteration-invariant — the DetKMeans rationale)
    val zArr = array((0 until Ann.IvfDims).map(i => col(s"x$i").cast("double")): _*)
    val withList = feats.withColumn("cluster",
      graft.functions.KMeansAssign.of(zArr, typedLit(coarse.map(_.toSeq).toSeq)))
    // exact-integer residuals vs the SAME floor centroids the build used
    import spark.implicits._
    val fcDf = fc.toIndexedSeq.zipWithIndex
      .map { case (row, c) => (c.toLong, row.toSeq) }.toDF("cluster", "fcv")
    val resid = withList.join(broadcast(fcDf), "cluster")
      .select(col("vec_id") +: col("cluster") +:
        (0 until Ann.IvfDims).map(i =>
          (col(s"x$i") - element_at(col("fcv"), i + 1)).as(s"x$i")): _*)
    // frozen codebook argmin per subvector — one KMeansAssign per
    // subspace over the shared codebook literal (ties to min codeword,
    // ascending-dim left-assoc: the stacked-window formulation's exact
    // values, minus the 16-branch union, the second window shuffle and
    // the pivot agg)
    val cbLit = typedLit(pcenters.map(_.toSeq).toSeq)
    val codeCols = (0 until subSpaces).map { m =>
      graft.functions.KMeansAssign.of(
        array((0 until subDim).map(i =>
          col(s"x${subDim * m + i}").cast("double")): _*), cbLit).as(s"c$m")
    }
    resid.select(col("vec_id") +: codeCols :+ col("cluster"): _*)
      .sortWithinPartitions("cluster")
      .write.mode("overwrite").parquet(s"$root/batch=$batchId/codes")
    graft.streaming.ExactlyOnce.commit(spark, root, batchId)
  }

  /** [[ivfPqTopKIndexed]] over base ∪ committed appended codes — the read
    * side of the append arc; uncommitted (crashed) append dirs are
    * invisible by the marker protocol. */
  def ivfPqTopKIndexedWithAppends(spark: SparkSession, dir: String,
                                  indexDir: String, k: Int = 10,
                                  nProbe: Int = 0): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val (nLists, nListsReq, subSpaces, subDim, nCodes, clustered) =
      readValidatedMeta(spark, indexDir)
    val probes = if (nProbe > 0) nProbe
      else Ann.adaptiveProbe(nListsReq, clustered)
    val rerank = Pq.adaptiveShortlist(Ann.cachedCount(emb.select("vec_id")))
    val base = spark.read.parquet(s"$indexDir/codes")
    val appended = graft.streaming.ExactlyOnce
      .committedBatches(spark, s"$indexDir/appends")
    val codesWithList =
      if (appended.isEmpty) base
      else base.unionByName(
        spark.read.parquet(appended.map(_ + "/codes"): _*))
    val coarse = loadCoarse(spark, indexDir, nLists)
    val pcenters = loadCodebook(spark, indexDir, nCodes, subDim)
    val xs = (0 until Ann.IvfDims).map(i => s"x$i")
    val qRows = Ann.ivfProj(emb.filter(col("vec_id") < 10), "embedding")
      .select(col("vec_id") +: xs.map(col): _*).collect()
    scoreWithArtifacts(spark, emb, codesWithList, coarse,
      floorCentroids(coarse), pcenters, qRows, nLists, probes, nCodes,
      subSpaces, rerank, k)
  }

  /** Driver query: the full IVFADC lambda arc as one gateable value — the
    * settled corpus (vec_id % 5 ≠ 4) builds the index; the remaining
    * fifth arrives as two assign-only appends through the exactly-once
    * protocol; top-k comes back over the WHOLE corpus (appended vectors
    * both findable and queryable — queries 4 and 9 are appended ids). */
  def annIvfPqAppend(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val idx = graft.streaming.ReplayScratch.dir("ivfpq_append_idx")
    buildIvfPqIndexFrom(spark, emb.filter(col("vec_id") % 5 =!= 4), idx)
    appendToIvfPqIndex(spark, idx, emb.filter(col("vec_id") % 10 === 4), 0L)
    appendToIvfPqIndex(spark, idx, emb.filter(col("vec_id") % 10 === 9), 1L)
    ivfPqTopKIndexedWithAppends(spark, dir, idx, k)
  }

  /** DuckDB oracle: the ann_ivf coarse-fit replay, the floor-centroid /
    * integer-residual CTEs, ONE prefix-"p" DetKMeans replay over the
    * stacked residual subvectors, the probe ranking, the per-(query, list)
    * UNION-ALL ADC table, the M-join left-assoc ADC sum restricted to the
    * candidate's own list, the adaptive shortlist window, and the exact
    * q20 re-rank. */
  def ivfPqOracle(k: Int = 10,
                  nCodes: Int = Pq.CodeBook, subSpaces: Int = Pq.SubSpaces): String = {
    val subDim = Ann.IvfDims / subSpaces
    val D = Ann.IvfDims
    // coarse pre: identical to annIvfOracle's qv/f head
    val pre =
      """qv AS MATERIALIZED (
        |  SELECT vec_id, qe,
        |    list_sum(list_transform(qe, v -> CAST(v AS BIGINT) * CAST(v AS BIGINT))) AS nrm
        |  FROM (SELECT vec_id,
        |          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1048576.0)) AS qe
        |        FROM embeddings)
        |), f AS (
        |  SELECT vec_id,
        |""".stripMargin +
        (0 until D).map(d =>
          s"    CASE WHEN nrm IS NULL OR nrm = 0 THEN 0 ELSE " +
            s"CAST(round(COALESCE(qe[${d + 1}], 0) * 1048576.0 / sqrt(CAST(nrm AS DOUBLE))) AS BIGINT) END AS x$d")
          .mkString(",\n") +
        "\n  FROM qv),\n" + Ann.geoCtes(Ann.distinctFeatCountSql("f"))
    val coarse = graft.ml.DetKMeans.oracleCtes(pre, "vec_id", nFeats = D,
      k = 0, iters = Ann.IvfIters, standardize = false,
      rankInit = true, kRefSql = "(SELECT k FROM geo)")
    val fcCols = (0 until D).map(i => s"CAST(floor(g$i) AS BIGINT) AS fc$i").mkString(", ")
    val rCols = (0 until D).map(i => s"a.x$i - fc.fc$i AS r$i").mkString(", ")
    val pfCols = (0 until subDim).map { d =>
      "    CASE " + (0 until subSpaces).map(m =>
        s"WHEN m = $m THEN r${subDim * m + d}").mkString(" ") + s" END AS x$d"
    }.mkString(",\n")
    val pfPre =
      s"""pf AS MATERIALIZED (
         |  SELECT vec_id * $subSpaces + m AS uid,
         |$pfCols
         |  FROM rf CROSS JOIN (SELECT unnest(range(0, $subSpaces)) AS m) sub)""".stripMargin
    val pfit = graft.ml.DetKMeans.oracleCtes(pfPre, "uid", nFeats = subDim,
      k = nCodes, iters = Pq.PqIters, standardize = false, prefix = "p")
    val d2q = (0 until D).map(i => s"(q.z$i - c.g$i) * (q.z$i - c.g$i)")
      .reduce((a, x) => s"($a + $x)")
    val qrCols = (0 until D).map(i => s"q.x$i - fc.fc$i AS r$i").mkString(", ")
    val qdArms = (0 until subSpaces).map { m =>
      val d2 = (0 until subDim).map { i =>
        s"(CAST(r${subDim * m + i} AS DOUBLE) - c.g$i) * (CAST(r${subDim * m + i} AS DOUBLE) - c.g$i)"
      }.reduce((a, x) => s"($a + $x)")
      s"  SELECT query_id, list_id, $m AS m, c.cluster AS j, $d2 AS d2\n" +
        s"  FROM qr CROSS JOIN pc${Pq.PqIters} c"
    }.mkString("\n  UNION ALL\n")
    val codePivot = (0 until subSpaces).map(m =>
      s"MAX(CASE WHEN m = $m THEN code END) AS c$m").mkString(", ")
    val adcSum = (0 until subSpaces).map(m => s"q$m.d2")
      .reduce((a, x) => s"($a + $x)")
    val adcJoins = (0 until subSpaces).map { m =>
      if (m == 0) s"JOIN qd q0 ON q0.m = 0 AND q0.j = cd.c0 AND q0.list_id = cl.cluster"
      else s"JOIN qd q$m ON q$m.m = $m AND q$m.j = cd.c$m AND " +
        s"q$m.query_id = q0.query_id AND q$m.list_id = cl.cluster"
    }.mkString("\n  ")
    "WITH " + coarse + ",\n" + Ann.probeCtes() + ",\n" +
      s"""fc AS MATERIALIZED (SELECT cluster, $fcCols FROM c${Ann.IvfIters}),
         |cl AS MATERIALIZED (SELECT vec_id, cluster FROM afin),
         |rf AS MATERIALIZED (SELECT a.vec_id, $rCols FROM afin a JOIN fc ON a.cluster = fc.cluster),
         |""".stripMargin +
      pfit + ",\n" +
      s"""pcodes AS MATERIALIZED (
         |  SELECT uid // $subSpaces AS vec_id, uid % $subSpaces AS m, cluster AS code
         |  FROM pafin
         |), cd AS MATERIALIZED (
         |  SELECT vec_id, $codePivot FROM pcodes GROUP BY 1
         |), prb AS MATERIALIZED (
         |  SELECT query_id, list_id FROM (
         |    SELECT q.query_id, c.cluster AS list_id,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY $d2q, c.cluster) AS rn
         |    FROM (SELECT vec_id AS query_id, * FROM afin WHERE vec_id < 10) q
         |    CROSS JOIN c${Ann.IvfIters} c)
         |  WHERE rn <= (SELECT p FROM probe)
         |), qr AS MATERIALIZED (
         |  SELECT p.query_id, p.list_id, $qrCols
         |  FROM prb p
         |  JOIN fc ON fc.cluster = p.list_id
         |  JOIN (SELECT vec_id AS query_id, * FROM afin WHERE vec_id < 10) q
         |    ON q.query_id = p.query_id
         |), qd AS MATERIALIZED (
         |$qdArms
         |), adc AS MATERIALIZED (
         |  SELECT q0.query_id, cd.vec_id, $adcSum AS approx
         |  FROM cd
         |  JOIN cl ON cl.vec_id = cd.vec_id
         |  $adcJoins
         |  WHERE cd.vec_id <> q0.query_id
         |), sl AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY approx, vec_id) AS rn
         |    FROM adc)
         |  WHERE rn <= GREATEST(200, (SELECT COUNT(*) FROM embeddings) // 10)
         |), nn AS (
         |  SELECT vec_id, qe, list_sum(list_transform(qe, v -> v * v)) AS nrm FROM qv
         |), pp AS (
         |  SELECT sl.query_id, sl.vec_id,
         |    list_sum(list_transform(range(1, LEAST(len(a.qe), len(b.qe)) + 1),
         |      i -> a.qe[i] * b.qe[i])) AS dot,
         |    a.nrm AS nrm, b.nrm AS q_nrm
         |  FROM sl
         |  JOIN nn a ON a.vec_id = sl.vec_id
         |  JOIN nn b ON b.vec_id = sl.query_id
         |), ss AS (
         |  SELECT query_id, vec_id,
         |    CASE WHEN nrm * q_nrm = 0.0 THEN NULL ELSE dot / sqrt(nrm * q_nrm) END AS cos_sim
         |  FROM pp
         |), rr AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS "rank"
         |  FROM ss
         |)
         |SELECT query_id, vec_id, cos_sim, "rank" FROM rr WHERE "rank" <= $k
         |ORDER BY query_id, "rank"""".stripMargin
  }

  /** DuckDB oracle replaying [[annIvfPqAppend]] end-to-end: both fits
    * over the SETTLED subset only (vec_id % 5 ≠ 4), frozen-geometry
    * argmin assignment of the appended fifth to lists AND codewords
    * (row_number windows with the fit's (distance, id) tie-break), then
    * the standard ADC tail over settled ∪ appended codes. Raw-space mode
    * throughout, so z ≡ CAST(x AS DOUBLE) serves queries and appends
    * alike. Batch-independent appends ⇒ the streaming replay rides this
    * verbatim. */
  def ivfPqAppendOracle(k: Int = 10,
                        nCodes: Int = Pq.CodeBook,
                        subSpaces: Int = Pq.SubSpaces): String = {
    val subDim = Ann.IvfDims / subSpaces
    val D = Ann.IvfDims
    val pre =
      """qv AS (
        |  SELECT vec_id, qe,
        |    list_sum(list_transform(qe, v -> CAST(v AS BIGINT) * CAST(v AS BIGINT))) AS nrm
        |  FROM (SELECT vec_id,
        |          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1048576.0)) AS qe
        |        FROM embeddings)
        |), fall AS MATERIALIZED (
        |  SELECT vec_id,
        |""".stripMargin +
        (0 until D).map(d =>
          s"    CASE WHEN nrm IS NULL OR nrm = 0 THEN 0 ELSE " +
            s"CAST(round(COALESCE(qe[${d + 1}], 0) * 1048576.0 / sqrt(CAST(nrm AS DOUBLE))) AS BIGINT) END AS x$d")
          .mkString(",\n") +
        "\n  FROM qv\n), f AS (SELECT * FROM fall WHERE vec_id % 5 <> 4),\n" +
        Ann.geoCtes(Ann.distinctFeatCountSql("f"))
    val coarse = graft.ml.DetKMeans.oracleCtes(pre, "vec_id", nFeats = D,
      k = 0, iters = Ann.IvfIters, standardize = false,
      rankInit = true, kRefSql = "(SELECT k FROM geo)")
    val fcCols = (0 until D).map(i => s"CAST(floor(g$i) AS BIGINT) AS fc$i").mkString(", ")
    val rCols = (0 until D).map(i => s"a.x$i - fc.fc$i AS r$i").mkString(", ")
    val pfCols = (0 until subDim).map { d =>
      "    CASE " + (0 until subSpaces).map(m =>
        s"WHEN m = $m THEN r${subDim * m + d}").mkString(" ") + s" END AS x$d"
    }.mkString(",\n")
    val pfPre =
      s"""pf AS MATERIALIZED (
         |  SELECT vec_id * $subSpaces + m AS uid,
         |$pfCols
         |  FROM rf CROSS JOIN (SELECT unnest(range(0, $subSpaces)) AS m) sub)""".stripMargin
    val pfit = graft.ml.DetKMeans.oracleCtes(pfPre, "uid", nFeats = subDim,
      k = nCodes, iters = Pq.PqIters, standardize = false, prefix = "p")
    // raw-space frozen distances: z ≡ CAST(x AS DOUBLE)
    val d2x = (0 until D).map(i =>
      s"(CAST(a.x$i AS DOUBLE) - c.g$i) * (CAST(a.x$i AS DOUBLE) - c.g$i)")
      .reduce((acc, x) => s"($acc + $x)")
    val d2qx = (0 until D).map(i =>
      s"(CAST(q.x$i AS DOUBLE) - c.g$i) * (CAST(q.x$i AS DOUBLE) - c.g$i)")
      .reduce((acc, x) => s"($acc + $x)")
    val d2sub = (0 until subDim).map(i =>
      s"(CAST(s.x$i AS DOUBLE) - c.g$i) * (CAST(s.x$i AS DOUBLE) - c.g$i)")
      .reduce((acc, x) => s"($acc + $x)")
    val qrCols = (0 until D).map(i => s"q.x$i - fc.fc$i AS r$i").mkString(", ")
    val qdArms = (0 until subSpaces).map { m =>
      val d2 = (0 until subDim).map { i =>
        s"(CAST(r${subDim * m + i} AS DOUBLE) - c.g$i) * (CAST(r${subDim * m + i} AS DOUBLE) - c.g$i)"
      }.reduce((acc, x) => s"($acc + $x)")
      s"  SELECT query_id, list_id, $m AS m, c.cluster AS j, $d2 AS d2\n" +
        s"  FROM qr CROSS JOIN pc${Pq.PqIters} c"
    }.mkString("\n  UNION ALL\n")
    val codePivot = (0 until subSpaces).map(m =>
      s"MAX(CASE WHEN m = $m THEN code END) AS c$m").mkString(", ")
    val adcSum = (0 until subSpaces).map(m => s"q$m.d2")
      .reduce((acc, x) => s"($acc + $x)")
    val adcJoins = (0 until subSpaces).map { m =>
      if (m == 0) s"JOIN qd q0 ON q0.m = 0 AND q0.j = cd2.c0 AND q0.list_id = cl2.cluster"
      else s"JOIN qd q$m ON q$m.m = $m AND q$m.j = cd2.c$m AND " +
        s"q$m.query_id = q0.query_id AND q$m.list_id = cl2.cluster"
    }.mkString("\n  ")
    "WITH " + coarse + ",\n" + Ann.probeCtes() + ",\n" +
      s"""fc AS MATERIALIZED (SELECT cluster, $fcCols FROM c${Ann.IvfIters}),
         |rf AS MATERIALIZED (SELECT a.vec_id, $rCols FROM afin a JOIN fc ON a.cluster = fc.cluster),
         |""".stripMargin +
      pfit + ",\n" +
      s"""pcodes AS MATERIALIZED (
         |  SELECT uid // $subSpaces AS vec_id, uid % $subSpaces AS m, cluster AS code
         |  FROM pafin
         |), cd AS MATERIALIZED (
         |  SELECT vec_id, $codePivot FROM pcodes GROUP BY 1
         |), az AS MATERIALIZED (
         |  SELECT * FROM fall WHERE vec_id % 5 = 4
         |), al AS MATERIALIZED (
         |  SELECT vec_id, cluster FROM (
         |    SELECT a.vec_id, c.cluster,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY $d2x, c.cluster) AS rn
         |    FROM az a CROSS JOIN c${Ann.IvfIters} c)
         |  WHERE rn = 1
         |), arf AS MATERIALIZED (
         |  SELECT a.vec_id, $rCols
         |  FROM az a JOIN al ON al.vec_id = a.vec_id
         |  JOIN fc ON fc.cluster = al.cluster
         |), asub AS MATERIALIZED (
         |  SELECT vec_id * $subSpaces + m AS uid,
         |$pfCols
         |  FROM arf CROSS JOIN (SELECT unnest(range(0, $subSpaces)) AS m) sub
         |), ac AS MATERIALIZED (
         |  SELECT uid, code FROM (
         |    SELECT s.uid, c.cluster AS code,
         |      row_number() OVER (PARTITION BY s.uid ORDER BY $d2sub, c.cluster) AS rn
         |    FROM asub s CROSS JOIN pc${Pq.PqIters} c)
         |  WHERE rn = 1
         |), acd AS MATERIALIZED (
         |  SELECT vec_id, $codePivot FROM (
         |    SELECT uid // $subSpaces AS vec_id, uid % $subSpaces AS m, code FROM ac)
         |  GROUP BY 1
         |), cl2 AS MATERIALIZED (
         |  SELECT vec_id, cluster FROM afin
         |  UNION ALL SELECT vec_id, cluster FROM al
         |), cd2 AS MATERIALIZED (
         |  SELECT * FROM cd UNION ALL SELECT * FROM acd
         |), prb AS MATERIALIZED (
         |  SELECT query_id, list_id FROM (
         |    SELECT q.query_id, c.cluster AS list_id,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY $d2qx, c.cluster) AS rn
         |    FROM (SELECT vec_id AS query_id, * FROM fall WHERE vec_id < 10) q
         |    CROSS JOIN c${Ann.IvfIters} c)
         |  WHERE rn <= (SELECT p FROM probe)
         |), qr AS MATERIALIZED (
         |  SELECT p.query_id, p.list_id, $qrCols
         |  FROM prb p
         |  JOIN fc ON fc.cluster = p.list_id
         |  JOIN (SELECT vec_id AS query_id, * FROM fall WHERE vec_id < 10) q
         |    ON q.query_id = p.query_id
         |), qd AS MATERIALIZED (
         |$qdArms
         |), adc AS MATERIALIZED (
         |  SELECT q0.query_id, cd2.vec_id, $adcSum AS approx
         |  FROM cd2
         |  JOIN cl2 ON cl2.vec_id = cd2.vec_id
         |  $adcJoins
         |  WHERE cd2.vec_id <> q0.query_id
         |), sl AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id ORDER BY approx, vec_id) AS rn
         |    FROM adc)
         |  WHERE rn <= GREATEST(200, (SELECT COUNT(*) FROM embeddings) // 10)
         |), nn AS (
         |  SELECT vec_id, qe, list_sum(list_transform(qe, v -> v * v)) AS nrm FROM qv
         |), pp AS (
         |  SELECT sl.query_id, sl.vec_id,
         |    list_sum(list_transform(range(1, LEAST(len(a.qe), len(b.qe)) + 1),
         |      i -> a.qe[i] * b.qe[i])) AS dot,
         |    a.nrm AS nrm, b.nrm AS q_nrm
         |  FROM sl
         |  JOIN nn a ON a.vec_id = sl.vec_id
         |  JOIN nn b ON b.vec_id = sl.query_id
         |), ss AS (
         |  SELECT query_id, vec_id,
         |    CASE WHEN nrm * q_nrm = 0.0 THEN NULL ELSE dot / sqrt(nrm * q_nrm) END AS cos_sim
         |  FROM pp
         |), rr AS (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS "rank"
         |  FROM ss
         |)
         |SELECT query_id, vec_id, cos_sim, "rank" FROM rr WHERE "rank" <= $k
         |ORDER BY query_id, "rank"""".stripMargin
  }
}
