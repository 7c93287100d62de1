package graft.text

import graft.Tables
import graft.streaming.ExactlyOnce
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hybrid lexical + vector retrieval with reciprocal-rank fusion — the
  * query shape a search deployment runs when it combines a keyword index
  * with an embedding index (the reference pairs its Typesense keyword
  * search, typesense_client.py:55, with the vector indexer; RRF is the
  * standard public fusion rule: score = Σ 1/(k + rank_i), k = 60).
  *
  * Determinism: the lexical score is an integer term-occurrence count; the
  * vector score is an exact-integer dot product of q20 fixed-point
  * embeddings (the [[Embeddings]]/[[Chunking]] recipe — round(v·2^20/‖v‖)
  * per component, products ≤ 2^46 so a long sum is exact); both ranks are
  * exact global row_numbers with doc-id tie-breaks; the RRF sum is two IEEE
  * divisions and one add, bit-identical on any engine.
  *
  * List fusion, not corpus fusion: each modality retrieves its top
  * `candidates` (default 200) via a distributed TakeOrdered, ranks are
  * positions WITHIN each candidate list, and a document absent from a list
  * contributes 0 to the fused score — exactly how production RRF works
  * (Elasticsearch/OpenSearch fuse per-retriever top-k lists). That keeps
  * the expensive part a pure projection + two bounded TakeOrdereds: no
  * global sort anywhere, and the only single-partition work is the
  * ≤ `candidates`-row lists (bounded by the knob, not the data).
  */
object HybridSearch {

  val DefaultQuery = "spark join table"
  val RrfK = 60

  private def words(c: Column): Column = split(lower(trim(c)), "\\s+")

  /** q20 fixed-point embedding (array<long>) of any text column. */
  private def q20Vec(text: Column, dim: Int): Column = {
    val v = Embeddings.rawComponents(text, dim)
    val n2 = aggregate(v, lit(0L), (a, x) => a + x * x)
    transform(v, x =>
      when(n2 === 0L, lit(0L))
        .otherwise(round(x.cast("double") * lit(1048576.0) / sqrt(n2.cast("double")))
          .cast("long")))
  }

  /** Driver-side q20 embedding of the (constant) query string — the md5
    * expression tree is not constant-foldable, so evaluating it per row
    * would re-hash the query `dim` times for every document. Bit-identical
    * to q20Vec: same md5-prefix components, same HALF_UP rounding as Spark
    * `round` and the DuckDB oracle. */
  private[graft] def q20Const(text: String, dim: Int): Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val v = Array.tabulate(dim) { i =>
      val hex = md.digest(s"$text|$i".getBytes("UTF-8"))
        .take(4).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex, 16) % 2001 - 1000
    }
    val n2 = v.map(x => x * x).sum
    if (n2 == 0L) Array.fill(dim)(0L)
    else v.map(x => BigDecimal(x.toDouble * 1048576.0 / math.sqrt(n2.toDouble))
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
  }

  /** The lexical leg: integer term-occurrence score per document. */
  private def kwScored(spark: SparkSession, dir: String, query: String): DataFrame = {
    val terms = query.toLowerCase.split("\\s+").toSeq
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        // codegen'd count_in kernel (TextKernels.scala): one compiled loop
        // over a shared hash set instead of the interpreted per-token
        // k-term IN-list lambda — same null semantics (null tokens drop).
        graft.functions.CountIn.of(spark, words(col("text")), terms).as("kw_score"))
  }

  /** RRF fusion of the two scored legs: per-modality candidate lists via
    * distributed TakeOrdered, ranks over the ≤ `candidates`-row retained
    * frames (bounded by the knob, not the data), full-outer fuse. */
  private def fuse(kw: DataFrame, vec: DataFrame,
                   limit: Int, candidates: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def topList(df: DataFrame, scoreCol: String, rankCol: String) = {
      val ord = Seq(col(scoreCol).desc, col("doc_id").asc)
      df.select(col("doc_id"), col(scoreCol))
        .orderBy(ord: _*).limit(candidates)
        // frame is ≤ `candidates` rows by the limit above; the guard makes
        // that a raise_error instead of a reading of the code
        .withColumn(rankCol, graft.operators.RankOps.boundedFrame(s"hybrid_$rankCol",
          row_number().over(Window.orderBy(ord: _*)).cast("long"),
          maxRows = math.max(candidates.toLong, 1L)))
    }
    topList(kw, "kw_score", "kw_rank")
      .join(topList(vec, "vec_score", "vec_rank"), Seq("doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(RrfK) + col("kw_rank")), lit(0.0))
          + coalesce(lit(1.0) / (lit(RrfK) + col("vec_rank")), lit(0.0)))
      .select("doc_id", "kw_score", "vec_score", "kw_rank", "vec_rank", "rrf_score")
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
      .limit(limit)
  }

  def hybridSearch(spark: SparkSession, dir: String, query: String = DefaultQuery,
                   limit: Int = 20, candidates: Int = 200,
                   dim: Int = Embeddings.Dim): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        aggregate(
          zip_with(q20Vec(col("text"), dim), typedLit(q20Const(query, dim).toSeq),
            (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("vec_score"))
    fuse(kwScored(spark, dir, query), scored, limit, candidates)
  }

  // ------------------------------------------------- persisted-index path

  /** SRP tables for the hybrid vector-leg probe. Fewer than the ann_lsh
    * top-k path's 12: the probe trades recall for probe width explicitly
    * (the measured property lives in HybridIndexSpec) and its oracle
    * replays the bucketing, so correctness never rides on recall. */
  val IndexTables = 8
  val IndexSeed = 42L
  private val BkeyShift = 40

  /** One-time hybrid index build under `indexDir/corpus`: `vecs` (doc_id,
    * the exact q20 embedding as array<long>), `buckets` (bkey = tbl·2^40 +
    * SRP bucket, doc_id), and `meta` (geometry row, written LAST as the
    * build's commit marker). This is the amortization point the flat
    * hybridSearch lacks: embedding the corpus — dim md5 hashes per doc —
    * happens ONCE here instead of once per query, and the bucket table
    * gives each query a sublinear candidate read. At 100 TB: sort/partition
    * `buckets` by bkey so a probe's IN-filter prunes row groups (the write
    * below sorts within partitions for exactly that min/max pruning).
    * Everything lives under ONE `corpus/` dir so compaction can swap the
    * whole index with a single atomic rename (the StreamingNearDup
    * protocol); new documents append under `appends/batch=<id>/` via
    * [[appendToIndex]] without touching the settled corpus. */
  /** Pinned on-disk schemas of the two data parts — shared by the builder,
    * the appender and the readers (the readers NEED them: a crashed
    * incremental fold can leave an empty committed batch dir). */
  private val VecsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("qvec",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))))
  private val BucketsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("bkey",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType)))

  def buildIndex(spark: SparkSession, dir: String, indexDir: String,
                 dim: Int = Embeddings.Dim, tables: Int = IndexTables,
                 seed: Long = IndexSeed): Unit =
    buildIndexFrom(spark, Tables.documents(spark, dir), indexDir, dim, tables, seed)

  /** Index build over an explicit docs frame (`doc_id`, `text`) — the
    * streaming-replay gate seeds a settled-corpus SUBSET and streams the
    * rest through [[appendToIndex]]; the dir-based [[buildIndex]] delegates
    * here with the full documents table. The fingerprint (ndocs,
    * max_doc_id, content_digest) and adaptive bits come from the given
    * frame in one agg pass. */
  def buildIndexFrom(spark: SparkSession, docs: DataFrame, indexDir: String,
                     dim: Int = Embeddings.Dim, tables: Int = IndexTables,
                     seed: Long = IndexSeed): Unit = {
    graft.Memo.invalidate("hybrid.geometry", indexDir) // a rebuild may change adaptive bits
    val fp = graft.ann.VectorIndex.fingerprint(docs, "doc_id", FingerprintCols)
    val bits = graft.ann.Ann.adaptiveBits(fp.rows)
    val vecs = docs.select(col("doc_id"), q20Vec(col("text"), dim).as("qvec"))
    vecs.write.mode("overwrite").parquet(s"$indexDir/corpus/vecs")
    writeBuckets(spark, spark.read.parquet(s"$indexDir/corpus/vecs"),
      s"$indexDir/corpus/buckets", tables, bits, dim, seed)
    import spark.implicits._
    Seq((tables, bits, dim, seed, fp.rows, fp.maxId, fp.digest))
      .toDF("tables", "bits", "dim", "seed", "ndocs", "max_doc_id", "content_digest")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/corpus/meta")
  }

  /** SRP bucket table for a vecs frame under the index geometry — shared by
    * the builder, the appender, and compaction. */
  private def writeBuckets(spark: SparkSession, vecs: DataFrame, out: String,
                           tables: Int, bits: Int, dim: Int, seed: Long): Unit = {
    val pl = graft.ann.Ann.planes(tables, bits, dim, seed)
    val fn = graft.functions.SrpBuckets.register(
      spark, s"hyb_${tables}_${bits}_${dim}_$seed", pl, tables, bits, dim, q20In = true)
    vecs
      .withColumn("__buckets", expr(s"$fn(qvec)"))
      .select(col("doc_id"), posexplode(col("__buckets")))
      .select((col("pos").cast("long") * lit(1L << BkeyShift) +
        col("col").cast("long")).as("bkey"), col("doc_id"))
      .sortWithinPartitions("bkey")
      .write.mode("overwrite").parquet(out)
  }

  /** The documents columns an index build reads: its fingerprint digests
    * exactly these, so rewriting any document's text in place is seen. */
  private val FingerprintCols = Seq("doc_id", "text")

  /** The query's bkeys under the index geometry — driver-side (tables·bits
    * exact long dot products over the dim-length q20 query vector). Sign
    * rule `s > 0` matches SrpBuckets and the oracle. */
  private[graft] def queryBkeys(qv: Array[Long], tables: Int, bits: Int,
                                dim: Int, seed: Long): Seq[Long] = {
    val pl = graft.ann.Ann.planes(tables, bits, dim, seed)
    val n = math.min(dim, qv.length)
    (0 until tables).map { t =>
      var bucket = 0L
      var b = 0
      while (b < bits) {
        val off = (t * bits + b) * dim
        var s = 0L
        var j = 0
        while (j < n) { s += qv(j) * pl(off + j); j += 1 }
        if (s > 0) bucket |= (1L << b)
        b += 1
      }
      t.toLong * (1L << BkeyShift) + bucket
    }
  }

  /** Hybrid search against a prebuilt index. `probe = false` scores every
    * persisted vector — bit-identical to [[hybridSearch]] (same q20 values,
    * just not re-embedded per query) at ~1/dim the per-query cost.
    * `probe = true` additionally restricts the vector leg to documents
    * sharing ≥1 SRP bucket with the query — a pushed-down IN-filter on the
    * sorted bucket table, so the per-query vector read is the collision
    * set, not the corpus (sublinear; the LSH recall trade, measured in
    * HybridIndexSpec, replayed exactly by the probe oracle). */
  def hybridSearchIndexed(spark: SparkSession, dir: String, indexDir: String,
                          query: String = DefaultQuery, limit: Int = 20,
                          candidates: Int = 200, probe: Boolean = false): DataFrame =
    fuse(kwScored(spark, dir, query),
      indexedVecScores(spark, indexDir, query, probe), limit, candidates)

  /** The exact vector-leg scores read from a persisted index (one dot
    * product over the stored q20 vectors — the embed is amortized into the
    * build). Bit-identical to the flat in-flight scoring: the index stores
    * the exact q20 longs. Shared by [[hybridSearchIndexed]] and the
    * [[retrievalMetrics]] scale route. */
  private def indexedVecScores(spark: SparkSession, indexDir: String,
                               query: String, probe: Boolean): DataFrame = {
    recoverCorpus(spark, indexDir)
    // geometry is fixed at build time (appends/compaction reuse it), so the
    // 1-row meta read is memoized per index dir; buildIndex invalidates.
    val (tables, bits, dim, seed) = graft.Memo.get("hybrid.geometry", indexDir) {
      val meta = spark.read.parquet(s"$indexDir/corpus/meta").head
      (meta.getInt(0), meta.getInt(1), meta.getInt(2), meta.getLong(3))
    }
    val committed = ExactlyOnce.committedBatches(spark, s"$indexDir/appends")
    def withAppends(part: String, base: DataFrame): DataFrame = {
      // append dirs are read with the PINNED append schema: a crashed
      // incremental fold can leave a committed dir whose data files were
      // all moved into corpus (see compactIndex) — schema inference over
      // the empty dir would fail, while the pinned schema reads it as the
      // empty frame it is (and saves a footer read per dir per query).
      val sch = if (part == "vecs") VecsSchema else BucketsSchema
      val all = (base +: committed.map(d => spark.read.schema(sch).parquet(s"$d/$part")))
        .reduce(_.unionByName(_))
      // a compaction crash between the corpus swap and the batch-dir
      // deletes leaves folded dirs listed committed — doc_ids then appear
      // in both the corpus and a batch dir with IDENTICAL qvecs, so the
      // dedupe collapses them back to the rebuilt answer (self-healing;
      // the next compaction pass re-folds and deletes). Zero cost on the
      // compacted fast path: committed empty skips the union entirely.
      if (part == "vecs") all.dropDuplicates("doc_id") else all
    }
    val vecs =
      if (committed.isEmpty) spark.read.parquet(s"$indexDir/corpus/vecs")
      else withAppends("vecs", spark.read.parquet(s"$indexDir/corpus/vecs"))
    val restricted =
      if (!probe) vecs
      else {
        val keys = queryBkeys(q20Const(query, dim), tables, bits, dim, seed)
        val bucketBase = spark.read.parquet(s"$indexDir/corpus/buckets")
        val buckets =
          if (committed.isEmpty) bucketBase else withAppends("buckets", bucketBase)
        val candIds = buckets
          .filter(col("bkey").isin(keys: _*))
          .select("doc_id").distinct()
        vecs.join(candIds, "doc_id")
      }
    restricted.select(
      col("doc_id"),
      aggregate(
        zip_with(col("qvec"), typedLit(q20Const(query, dim).toSeq), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x).as("vec_score"))
  }

  // ------------------------------------------- incremental append + compaction

  private def hadoopFs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Complete an interrupted [[compactIndex]] step before any index read.
    * Two interrupted shapes recover here, both idempotent and fs-op-cheap
    * (existence checks only, no Spark job):
    *  - the legacy whole-corpus swap (pre-incremental folds, and the
    *    manufactured mid-swap state the crash-window spec pins): "corpus
    *    missing + staged present" always means the staged copy is the
    *    complete new index;
    *  - an incremental fold's meta stamp: the watermark rewrite stages the
    *    new meta beside the corpus and swaps it by delete+rename, so
    *    "meta missing + staged meta present" completes the rename (and a
    *    leftover staged meta beside a live meta is stale — deleted). */
  private def recoverCorpus(spark: SparkSession, indexDir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = hadoopFs(spark, indexDir)
    val corpus = new Path(s"$indexDir/corpus")
    val staged = new Path(s"$indexDir/__corpus_staged")
    val old = new Path(s"$indexDir/__corpus_old")
    if (!fs.exists(corpus) && fs.exists(staged)) fs.rename(staged, corpus)
    if (fs.exists(corpus) && fs.exists(old)) fs.delete(old, true)
    val meta = new Path(s"$indexDir/corpus/meta")
    val metaStaged = new Path(s"$indexDir/__meta_staged")
    if (fs.exists(metaStaged)) {
      if (fs.exists(corpus) && !fs.exists(meta)) fs.rename(metaStaged, meta)
      else fs.delete(metaStaged, true)
    }
  }

  /** Append a batch of NEW documents (`doc_id`, `text`) to the index under
    * the batchId marker protocol: embed + bucket them with the INDEX's
    * geometry (bits stay fixed from build time — re-bitting a grown corpus
    * is a rebuild decision, not an append), stage both parts under
    * `appends/batch=<id>/`, then commit the marker. A replayed batchId sees
    * its marker and skips; a crash before the marker leaves the dirs
    * invisible to readers. Returns true iff this call appended.
    *
    * The appended docs are NOT in the base `dir` documents table, so this
    * surface is for externally-managed index dirs (the driver-query tmpdir
    * glue never appends — [[ensureIndex]]'s fingerprint check governs it). */
  def appendToIndex(spark: SparkSession, newDocs: DataFrame, indexDir: String,
                    batchId: Long): Boolean = {
    recoverCorpus(spark, indexDir)
    val appDir = s"$indexDir/appends"
    if (ExactlyOnce.isCommitted(spark, appDir, batchId)) return false
    val metaDf = spark.read.parquet(s"$indexDir/corpus/meta")
    val meta = metaDf.head
    // Folded-batch watermark: compaction deletes batch dirs INCLUDING their
    // commit markers, so a foreachBatch redelivery after a fold would pass
    // the isCommitted check and re-append already-folded docs. The meta
    // watermark (max folded batchId, written by compactIndex) closes that
    // window — a batchId at or below it has already been folded into corpus.
    if (metaDf.columns.contains("folded_max_batch") &&
        batchId <= meta.getAs[Long]("folded_max_batch")) return false
    val (tables, bits, dim, seed) =
      (meta.getInt(0), meta.getInt(1), meta.getInt(2), meta.getLong(3))
    val batchDir = s"$appDir/batch=$batchId"
    newDocs.select(col("doc_id"), q20Vec(col("text"), dim).as("qvec"))
      .write.mode("overwrite").parquet(s"$batchDir/vecs")
    writeBuckets(spark, spark.read.parquet(s"$batchDir/vecs"),
      s"$batchDir/buckets", tables, bits, dim, seed)
    ExactlyOnce.commit(spark, appDir, batchId)
    true
  }

  /** Fold every COMMITTED append into `corpus/` and delete the batch dirs —
    * the maintenance step bounding the probe's union width on a long-lived
    * index. Must not run concurrently with queries or appends (the standard
    * compaction/ingest exclusion).
    *
    * INCREMENTAL since optimization r18 (guide §2.4/§6): append dirs carry
    * parquet files in exactly the corpus layout (the appender embeds and
    * buckets with the index's frozen geometry), so a fold is a FILE MOVE —
    * O(batch) filesystem renames — not the previous read + global-dedupe
    * + rewrite of the whole corpus (two corpus-sized shuffles and a full
    * rewrite per fold; at 100 TB that made every n-th micro-batch pay a
    * corpus pass). Batch files land under collision-free names
    * (`b<batchId>_<origName>`), which also makes the move idempotent: a
    * destination that already exists means THIS file was already folded
    * (a crash replay, or the stale-dir window below), so the source is
    * simply dropped.
    *
    * Crash protocol, in order:
    *  1. stamp the folded-batch watermark (max batchId being folded,
    *     monotonic) into corpus/meta FIRST via staged-write + delete +
    *     rename — [[recoverCorpus]] completes an interrupted rename, and
    *     the stamp closes the redelivery window before any marker dies
    *     (appendToIndex rejects batchIds at or below it);
    *  2. move each committed dir's data files into corpus (idempotent);
    *  3. delete the batch dirs.
    * Every crash point recovers: an interrupted stamp completes on the
    * next recoverCorpus; a partially-moved dir still unions to the
    * complete row set on read (each file lives on exactly one side of the
    * move — renames, never copies) and the next fold finishes it; a
    * fully-moved-but-undeleted dir reads as empty (readers pin the
    * append schema) and the next fold deletes it; a stale copy of a
    * folded dir finds its destinations and is dropped by the idempotent
    * move. A committed dir at or below the previous watermark with nothing
    * under corpus' `b<id>_` names gets one doc_id anti-join against corpus:
    * none of its rows there (a crash between stamp and move) moves it; all
    * there (a pre-r18 whole-corpus fold's remnant) deletes it; a mix fails.
    * Returns the number of batch dirs folded (completing a crashed fold's
    * delete counts — the dir was still bounding the union width). */
  def compactIndex(spark: SparkSession, indexDir: String): Int = {
    import org.apache.hadoop.fs.Path
    recoverCorpus(spark, indexDir)
    val committed = ExactlyOnce.committedBatches(spark, s"$indexDir/appends")
    if (committed.isEmpty) return 0
    val fs = hadoopFs(spark, indexDir)
    def batchId(d: String) =
      d.substring(d.lastIndexOf("batch=") + "batch=".length).toLong
    // 1. watermark stamp (only when it advances)
    val foldedMax = committed.map(batchId).max
    val oldMeta = spark.read.parquet(s"$indexDir/corpus/meta")
    val prevWm =
      if (oldMeta.columns.contains("folded_max_batch"))
        oldMeta.head.getAs[Long]("folded_max_batch") else -1L
    if (foldedMax > prevWm) {
      val staged = s"$indexDir/__meta_staged"
      oldMeta.withColumn("folded_max_batch", lit(foldedMax))
        .coalesce(1).write.mode("overwrite").parquet(staged)
      require(fs.delete(new Path(s"$indexDir/corpus/meta"), true),
        s"compactIndex: delete of corpus/meta failed under $indexDir; " +
          "aborting before the staged-meta rename")
      require(fs.rename(new Path(staged), new Path(s"$indexDir/corpus/meta")),
        s"compactIndex: rename __meta_staged -> corpus/meta failed under " +
          s"$indexDir; recoverCorpus completes it on the next index entry")
    }
    // 2.+3. move data files (idempotent), then delete the batch dir
    def dataFiles(dir: Path) =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq.filter { st =>
        val name = st.getPath.getName
        st.isFile && !name.startsWith("_") && !name.startsWith(".")
      }
    committed.foreach { d =>
      val id = batchId(d)
      // nothing moved at or below the old watermark: a legacy remnant?
      val remnant = id <= prevWm && dataFiles(new Path(s"$d/vecs")).nonEmpty &&
        Option(fs.globStatus(new Path(s"$indexDir/corpus/*/b${id}_*"))).forall(_.isEmpty) && {
          val vecs = spark.read.parquet(s"$d/vecs").select("doc_id")
          val absent = vecs.join(spark.read.parquet(s"$indexDir/corpus/vecs").select("doc_id"),
            Seq("doc_id"), "left_anti").count()
          require(absent == 0 || absent == vecs.count(),
            s"compactIndex: $absent of batch dir $d's doc_ids are absent from corpus " +
              "and the rest present; refusing to fold a partial legacy remnant")
          absent == 0
        }
      if (!remnant) Seq("vecs", "buckets").foreach { part =>
        dataFiles(new Path(s"$d/$part")).foreach { st =>
          val name = st.getPath.getName
          val dst = new Path(s"$indexDir/corpus/$part/b${id}_$name")
          if (fs.exists(dst) || !fs.rename(st.getPath, dst)) {
            require(fs.exists(dst),
              s"compactIndex: rename $name -> $dst failed under $indexDir " +
                "and the destination is absent; aborting before the " +
                "batch-dir delete so no committed data is lost")
            fs.delete(st.getPath, false)
          }
        }
      }
      require(fs.delete(new Path(d), true),
        s"compactIndex: delete of folded batch dir $d failed; aborting " +
          "(the dir's data files are already folded — rerun to finish)")
    }
    committed.size
  }

  /** Build-once glue for the driver queries: the index under
    * java.io.tmpdir keyed by (dir, geometry), built on first use and
    * validated once per JVM by the vector indexes' ensure helper
    * ([[graft.ann.VectorIndex.ensureFresh]]). `meta` is the commit marker
    * and carries the build corpus' fingerprint — count, max doc_id and an
    * xxhash64 content digest of (doc_id, text) — so a half-built index, a
    * corpus regenerated in place at the same path, or a rewrite of one
    * document that keeps count and max doc_id all rebuild. */
  private[graft] def ensureIndex(spark: SparkSession, dir: String): String =
    graft.ann.VectorIndex.ensureFresh("hybrid",
        s"$dir|${Embeddings.Dim}|$IndexTables|$IndexSeed") { idx =>
      recoverCorpus(spark, idx)
      val m = spark.read.parquet(s"$idx/corpus/meta").head
      val nd = m.getAs[Long]("ndocs")
      require(m.getAs[Int]("bits") == graft.ann.Ann.adaptiveBits(nd))
      graft.ann.VectorIndex.Fingerprint(nd, m.getAs[Long]("max_doc_id"),
        m.getAs[Long]("content_digest"))
    }(graft.ann.VectorIndex.fingerprint(Tables.documents(spark, dir), "doc_id", FingerprintCols))(
      buildIndex(spark, dir, _))

  /** Driver query: the persisted-vector path — oracle-identical to
    * hybrid_search (same scores, precomputed). */
  def hybridSearchPersisted(spark: SparkSession, dir: String): DataFrame =
    hybridSearchIndexed(spark, dir, ensureIndex(spark, dir))

  // -------------------------------------------------- size-adaptive route

  /** Corpus size at or above which [[hybridSearchAuto]] routes to the
    * persisted index: 10× the sf0.1 documents table — the BASELINE
    * "default to indexed at ≥10×" rule, now code instead of prose (the
    * adaptive exact-dup collapse precedent, [[graft.dedup.Collapse]]).
    * Below it the flat form's one-pass embed costs less than an index
    * build could amortize for ad-hoc corpora. */
  val AutoIndexThreshold = 50000L

  /** Routing predicate, exposed for specs: true ⇒ the persisted index.
    * One doc_id-pruned count per NEW corpus dir; the decision is memoized
    * per (dir, threshold) because the flat/indexed answers are
    * bit-identical anyway — a stale route is a cost decision, never a
    * correctness one. */
  private[graft] def autoRoute(spark: SparkSession, dir: String,
                               threshold: Long = AutoIndexThreshold): Boolean =
    graft.Memo.get("hybrid.route", (dir, threshold))(
      Tables.documents(spark, dir).select("doc_id").count() >= threshold)

  /** Size-adaptive hybrid search: the flat one-pass form on small corpora,
    * the persisted index (built on first use, fingerprint-validated) at or
    * above [[AutoIndexThreshold]] docs. Both routes produce bit-identical
    * answers (`probe = false` scores every vector — the index only
    * amortizes the embedding), so the dispatch changes cost, never
    * results; HybridIndexSpec pins route choice and bit-parity on both
    * sides of the threshold. */
  def hybridSearchAuto(spark: SparkSession, dir: String,
                       query: String = DefaultQuery, limit: Int = 20,
                       candidates: Int = 200,
                       threshold: Long = AutoIndexThreshold): DataFrame =
    if (autoRoute(spark, dir, threshold))
      hybridSearchIndexed(spark, dir, ensureIndex(spark, dir), query, limit, candidates)
    else
      hybridSearch(spark, dir, query, limit, candidates)

  /** Driver query: the SRP-probed path — its own oracle replays the
    * bucket restriction. */
  def hybridSearchProbe(spark: SparkSession, dir: String): DataFrame =
    hybridSearchIndexed(spark, dir, ensureIndex(spark, dir), probe = true)

  // ------------------------------------------------- retrieval quality

  /** 27720 = 2³·3²·5·7·11 = lcm(1..12): every harmonic discount
    * 27720/(pos+1) and reciprocal rank 27720/pos is an EXACT integer for
    * positions ≤ 11, so the whole DCG/RR computation stays in integers and
    * only the closing division emits a double (single rounding, identical
    * in any IEEE engine). The standard log2 discount would ride each
    * engine's libm; the harmonic discount is the determinism-safe variant
    * and ranks identically for the comparison's purpose. */
  private val DiscountLcm = 27720

  /** Driver query: the retrieval-quality dashboard — nDCG@10, reciprocal
    * rank and precision@10 for the three rankings a hybrid deployment
    * compares (lexical-only, vector-only, RRF fusion), graded against a
    * dual-evidence relevance standard: rel(doc) = |{leg top-100 lists
    * containing doc}| ∈ {0,1,2}. Docs both modalities independently
    * retrieve are the graded-2 targets — surfacing them early is RRF's
    * entire pitch, so the dashboard measures exactly the property the
    * fusion claims (the [[graft.ann.Ann.annRecall]] move, applied to
    * retrieval). IDCG comes from the two relevance-class counts joined to
    * a 10-row positions frame — no collect; every frame past the leg
    * scores is ≤ 200 rows (the relevance standard) or ≤ 10 (rankings). */
  def retrievalMetrics(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k <= 11, s"harmonic discounts 27720/(pos+1) are exact for pos <= 11; got k=$k")
    // each leg is scored ONCE and checkpointed: the frames are 2 longs per
    // doc, but the vector leg's md5-fold embed is the expensive pass and
    // it feeds FOUR consumers (relevance standard, vector ranking, and the
    // fused ranking's candidate list built below from the same frames —
    // NOT via hybridSearch, which would embed the corpus a second time).
    // Checkpointing materializes identical values, so oracle parity holds.
    // At/above the auto-dispatch threshold the vector leg reads the
    // persisted index's exact q20 vectors instead of re-embedding (the
    // hybrid_search_auto lesson — bit-identical stores, amortized embed).
    val kw = kwScored(spark, dir, DefaultQuery).localCheckpoint(false)
    val vec = (if (autoRoute(spark, dir))
      indexedVecScores(spark, ensureIndex(spark, dir), DefaultQuery, probe = false)
    else Tables.documents(spark, dir).select(
      col("doc_id"),
      aggregate(
        zip_with(q20Vec(col("text"), Embeddings.Dim),
          typedLit(q20Const(DefaultQuery, Embeddings.Dim).toSeq), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x).as("vec_score")))
      .localCheckpoint(false)
    def top(df: DataFrame, scoreCol: String, n: Int): DataFrame = {
      val ord = Seq(col(scoreCol).desc, col("doc_id").asc)
      df.orderBy(ord: _*).limit(n)
        .withColumn("pos", graft.operators.RankOps.boundedFrame(
          s"retrieval_${scoreCol}_$n",
          row_number().over(Window.orderBy(ord: _*)).cast("long"),
          maxRows = n.toLong))
    }
    // relevance standard: membership of each leg's top-100 list
    val rel = top(kw, "kw_score", 100).select(col("doc_id"), lit(1L).as("in_kw"))
      .join(top(vec, "vec_score", 100).select(col("doc_id"), lit(1L).as("in_vec")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        (coalesce(col("in_kw"), lit(0L)) + coalesce(col("in_vec"), lit(0L))).as("rel"))
    val counts = rel.agg(
      sum(when(col("rel") === 2, 1L).otherwise(0L)).as("n2"),
      sum(when(col("rel") === 1, 1L).otherwise(0L)).as("n1"))
    val idcg = spark.range(1, k + 1).toDF("i").crossJoin(broadcast(counts))
      .agg(sum(
        when(col("i") <= col("n2"), lit(2) * expr(s"$DiscountLcm div (i + 1)"))
          .when(col("i") <= col("n2") + col("n1"), expr(s"$DiscountLcm div (i + 1)"))
          .otherwise(lit(0L))).as("idcg_scaled"))
    // the three rankings, top-k each with 1-based positions; the fused
    // ranking reuses the checkpointed legs (≡ hybridSearch bit-for-bit:
    // same frames, same fuse)
    val hyb = fuse(kw, vec, limit = 20, candidates = 200)
      .withColumn("pos", graft.operators.RankOps.boundedFrame("retrieval_hybrid",
        row_number().over(
          Window.orderBy(col("rrf_score").desc, col("doc_id").asc)).cast("long"),
        maxRows = 20L))
      .filter(col("pos") <= k)
    val ranked = top(kw, "kw_score", k).select(lit("lexical").as("method"), col("doc_id"), col("pos"))
      .unionByName(top(vec, "vec_score", k).select(lit("vector").as("method"), col("doc_id"), col("pos")))
      .unionByName(hyb.select(lit("hybrid").as("method"), col("doc_id"), col("pos")))
    val graded = ranked.join(broadcast(rel), Seq("doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
    graded.groupBy("method")
      .agg(
        sum(when(col("rel") > 0, 1L).otherwise(0L)).as("n_rel"),
        sum(col("rel") * expr(s"$DiscountLcm div (pos + 1)")).as("dcg_scaled"),
        min(when(col("rel") > 0, col("pos"))).as("first_rel"))
      .crossJoin(broadcast(idcg))
      .select(
        col("method"),
        col("n_rel").cast("long").as("n_relevant_at_k"),
        (col("n_rel").cast("double") / lit(k.toDouble)).as("p_at_k"),
        coalesce(expr(s"$DiscountLcm div first_rel").cast("double")
          / lit(DiscountLcm.toDouble), lit(0.0)).as("reciprocal_rank"),
        col("dcg_scaled").cast("long").as("dcg_scaled"),
        when(col("idcg_scaled") === 0, lit(0.0))
          .otherwise(col("dcg_scaled").cast("double") / col("idcg_scaled").cast("double"))
          .as("ndcg_at_k"))
      .orderBy("method")
  }

  /** DuckDB oracle replaying [[retrievalMetrics]]: the shared exact-leg
    * CTEs, the same top-100 dual-evidence relevance standard, the fused
    * top-20 subquery for the hybrid ranking, and the identical
    * integer-scaled harmonic DCG/RR arithmetic. */
  def retrievalMetricsOracle(k: Int = 10): String = {
    require(k == 10, s"retrievalMetricsOracle replays the k=10 dashboard; got k=$k")
    val L = DiscountLcm
    s"""WITH $legsSql, ${fusedTailSql(probe = false)},
       |kt100 AS (SELECT doc_id FROM kw ORDER BY kw_score DESC, doc_id LIMIT 100),
       |vt100 AS (SELECT doc_id FROM vs ORDER BY vec_score DESC, doc_id LIMIT 100),
       |rel AS (
       |  SELECT COALESCE(kt100.doc_id, vt100.doc_id) AS doc_id,
       |    (CASE WHEN kt100.doc_id IS NOT NULL THEN 1 ELSE 0 END
       |     + CASE WHEN vt100.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS rel
       |  FROM kt100 FULL OUTER JOIN vt100 ON kt100.doc_id = vt100.doc_id
       |), cnt AS (
       |  SELECT SUM(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS n2,
       |         SUM(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS n1
       |  FROM rel
       |), idcg AS (
       |  SELECT SUM(CASE WHEN i <= n2 THEN 2 * ($L // (i + 1))
       |                  WHEN i <= n2 + n1 THEN $L // (i + 1)
       |                  ELSE 0 END) AS idcg_scaled
       |  FROM generate_series(1, $k) g(i), cnt
       |), hybf AS (
       |  $fusedSelectSql
       |), ranked AS (
       |  SELECT 'lexical' AS method, doc_id,
       |    CAST(row_number() OVER (ORDER BY kw_score DESC, doc_id) AS BIGINT) AS pos
       |  FROM kw ORDER BY kw_score DESC, doc_id LIMIT $k
       |), rankedv AS (
       |  SELECT 'vector' AS method, doc_id,
       |    CAST(row_number() OVER (ORDER BY vec_score DESC, doc_id) AS BIGINT) AS pos
       |  FROM vs ORDER BY vec_score DESC, doc_id LIMIT $k
       |), rankedh AS (
       |  SELECT method, doc_id, pos FROM (
       |    SELECT 'hybrid' AS method, doc_id,
       |      CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS BIGINT) AS pos
       |    FROM hybf)
       |  WHERE pos <= $k
       |), graded AS (
       |  SELECT method, pos, COALESCE(rel, 0) AS rel
       |  FROM (SELECT * FROM ranked UNION ALL SELECT * FROM rankedv
       |        UNION ALL SELECT * FROM rankedh) r
       |  LEFT JOIN rel USING (doc_id)
       |), m AS (
       |  SELECT method,
       |    SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS n_rel,
       |    SUM(rel * ($L // (pos + 1))) AS dcg_scaled,
       |    MIN(CASE WHEN rel > 0 THEN pos END) AS first_rel
       |  FROM graded GROUP BY 1
       |)
       |SELECT method,
       |  CAST(n_rel AS BIGINT) AS n_relevant_at_k,
       |  CAST(n_rel AS DOUBLE) / $k.0 AS p_at_k,
       |  COALESCE(CAST($L // first_rel AS DOUBLE) / $L.0, 0.0) AS reciprocal_rank,
       |  CAST(dcg_scaled AS BIGINT) AS dcg_scaled,
       |  CASE WHEN idcg_scaled = 0 THEN 0.0
       |       ELSE CAST(dcg_scaled AS DOUBLE) / CAST(idcg_scaled AS DOUBLE) END AS ndcg_at_k
       |FROM m, idcg ORDER BY method""".stripMargin
  }

  def hybridSearchOracle: String = oracleSql(probe = false)

  /** Oracle for the SRP-probed path: hybridSearchOracle plus a full replay
    * of the index bucketing (md5-integer hyperplanes over the q20 doc/query
    * vectors, adaptive bits from COUNT(documents), `s > 0` sign rule) with
    * the vector candidate list restricted to bucket collisions — the
    * embed_neardup implementation-parity contract: the pair of engines
    * agree bit-for-bit at any scale, recall vs the flat form stays a
    * measured spec property. */
  def hybridSearchProbeOracle: String = oracleSql(probe = true)

  /** The exact-leg CTE chain (lexical score + q20 vector score) shared by
    * the fused-query oracles and [[retrievalMetricsOracle]]. */
  private def legsSql: String = {
    val terms = DefaultQuery.toLowerCase.split("\\s+").toSeq
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val dim = Embeddings.Dim
    // digit-fold md5 hex → integer, the chunk_embeddings oracle recipe
    def comp(textExpr: String) =
      s"""CAST(list_sum(list_transform(range(1, 9), j ->
         |      (strpos('0123456789abcdef', substring(md5($textExpr || '|' || CAST(i AS VARCHAR)), j, 1)) - 1)
         |        * (16.0 ** (8 - j)))) AS BIGINT) % 2001 - 1000""".stripMargin
    s"""kw AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
       |      x -> x IN ($termList))) AS BIGINT) AS kw_score
       |  FROM documents
       |), dc AS (
       |  SELECT doc_id, i, ${comp("text")} AS v
       |  FROM documents, UNNEST(generate_series(0, ${dim - 1})) AS u(i)
       |), dn AS (
       |  SELECT doc_id, CAST(SUM(v * v) AS BIGINT) AS n2 FROM dc GROUP BY 1
       |), dq AS (
       |  SELECT dc.doc_id, i,
       |    CASE WHEN n2 = 0 THEN 0
       |         ELSE CAST(round(CAST(v AS DOUBLE) * 1048576.0 / sqrt(CAST(n2 AS DOUBLE))) AS BIGINT)
       |    END AS q20
       |  FROM dc JOIN dn ON dc.doc_id = dn.doc_id
       |), qc AS (
       |  SELECT i, ${comp(s"'${DefaultQuery}'")} AS v
       |  FROM UNNEST(generate_series(0, ${dim - 1})) AS u(i)
       |), qn AS (SELECT CAST(SUM(v * v) AS BIGINT) AS n2 FROM qc
       |), qq AS (
       |  SELECT i,
       |    CASE WHEN n2 = 0 THEN 0
       |         ELSE CAST(round(CAST(v AS DOUBLE) * 1048576.0 / sqrt(CAST(n2 AS DOUBLE))) AS BIGINT)
       |    END AS q20
       |  FROM qc, qn
       |), vs AS (
       |  SELECT doc_id, CAST(SUM(dq.q20 * qq.q20) AS BIGINT) AS vec_score
       |  FROM dq JOIN qq ON dq.i = qq.i GROUP BY 1
       |)""".stripMargin
  }

  /** The candidate-list + fusion tail (kt/vt CTE defs and the fused SELECT)
    * — appended after [[legsSql]] (+ probe CTEs when probing). */
  private def fusedTailSql(probe: Boolean): String =
    s"""kt AS (
       |  SELECT doc_id, kw_score,
       |    CAST(row_number() OVER (ORDER BY kw_score DESC, doc_id) AS BIGINT) AS kw_rank
       |  FROM kw ORDER BY kw_score DESC, doc_id LIMIT 200
       |), vt AS (
       |  SELECT doc_id, vec_score,
       |    CAST(row_number() OVER (ORDER BY vec_score DESC, doc_id) AS BIGINT) AS vec_rank
       |  FROM ${if (probe) "vs JOIN cndh USING (doc_id)" else "vs"}
       |  ORDER BY vec_score DESC, doc_id LIMIT 200
       |)""".stripMargin

  private def fusedSelectSql: String =
    s"""SELECT coalesce(kt.doc_id, vt.doc_id) AS doc_id, kw_score, vec_score,
       |  kw_rank, vec_rank,
       |  coalesce(1.0 / ($RrfK + kw_rank), 0.0) + coalesce(1.0 / ($RrfK + vec_rank), 0.0)
       |    AS rrf_score
       |FROM kt FULL OUTER JOIN vt ON kt.doc_id = vt.doc_id
       |ORDER BY rrf_score DESC, coalesce(kt.doc_id, vt.doc_id) LIMIT 20""".stripMargin

  private def oracleSql(probe: Boolean): String =
    s"WITH $legsSql${if (probe) probeCtes(Embeddings.Dim) else ""}, " +
      s"${fusedTailSql(probe)}\n$fusedSelectSql"

  /** The bucket-replay CTE block: hyperplanes (the embedNearDupsOracle
    * md5 digit-fold at the hybrid geometry), per-(doc|query, table) bucket
    * keys from the EXACT q20 components already in `dq`/`qq`, and the
    * collision candidate set `cndh`. */
  private def probeCtes(dim: Int): String =
    s""", nbh AS (
       |  SELECT COALESCE((SELECT MIN(b) FROM range(3, 21) t(b)
       |                   WHERE (1 << b) * 64 >= (SELECT COUNT(*) FROM documents)), 20) AS bits
       |), plh AS (
       |  SELECT t.range AS t, b.range AS b,
       |    list_transform(range(0, $dim), j ->
       |      CAST(list_sum(list_transform(range(1, 9), i ->
       |        (strpos('0123456789abcdef',
       |           substring(md5('srp|$IndexSeed|' || t.range || '|' || b.range || '|' || j), i, 1)) - 1)
       |        * (16.0 ** (8 - i)))) AS BIGINT) - 2147483648) AS hv
       |  FROM range(0, $IndexTables) t, range(0, 20) b, nbh
       |  WHERE b.range < nbh.bits
       |), dbs AS (
       |  SELECT dq.doc_id, p.t, p.b, SUM(dq.q20 * p.hv[dq.i + 1]) AS s
       |  FROM dq JOIN plh p ON TRUE GROUP BY 1, 2, 3
       |), dbk AS (
       |  SELECT doc_id, t, SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS bucket
       |  FROM dbs GROUP BY 1, 2
       |), qbs AS (
       |  SELECT p.t, p.b, SUM(qq.q20 * p.hv[qq.i + 1]) AS s
       |  FROM qq JOIN plh p ON TRUE GROUP BY 1, 2
       |), qbk AS (
       |  SELECT t, SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS bucket
       |  FROM qbs GROUP BY 1
       |), cndh AS (
       |  SELECT DISTINCT d.doc_id FROM dbk d JOIN qbk q ON d.t = q.t AND d.bucket = q.bucket
       |)""".stripMargin
}
