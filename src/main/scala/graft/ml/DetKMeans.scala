package graft.ml

import graft.Exact
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic distributed KMeans (Lloyd's) over EXACT integer features —
  * the engine-replayable sibling of MLlib's KMeans.
  *
  * MLlib's kmeans|| init samples by partition order, which makes its
  * assignments irreproducible outside Spark (the reason customer_clusters
  * and anomaly_ml were rows-only queries). This variant pins every source of
  * nondeterminism so a SQL oracle replays the fit bit-for-bit:
  *
  *  - features are exact integers (counts, day counts, cents) — per-row
  *    casts to double are exact below 2^53;
  *  - standardization stats come from exact decimal sums via the shifted-
  *    moment recipe (descriptiveStats precedent) and convert through the
  *    portable hi/lo split once;
  *  - init is deterministic farthest-point: seeded at the md5-smallest
  *    row, then k−1 greedy maxmin rounds (largest min-distance, ties to
  *    the smallest id) — a spread init both engines replay;
  *  - each Lloyd's iteration re-aggregates per-cluster EXACT integer sums
  *    (associative — shuffle order cannot drift them); new centers are
  *    derived driver-side with the identical IEEE sequence the oracle's CTE
  *    runs ([[Exact.bigDecToDoubleJvm]] mirrors [[Exact.bigDecToDoubleSql]]);
  *  - assignment is an array-literal argmin projection; ties go to the
  *    smallest cluster index on both engines (first-position match here,
  *    lexicographic min(struct) there);
  *  - a FIXED iteration count (no data-dependent early stop).
  *
  * Scale shape: the feature frame is cached once; each iteration is one
  * map-side-combined aggregate producing ≤ k rows; driver state is k×d
  * doubles — bounded by the knobs, not data. `iters` scans of a cached frame is the same cost
  * profile as MLlib's maxIter.
  */
object DetKMeans {

  /** Fitted model: per-feature standardization + final centers (z-space). */
  case class Model(n: Long, mu: Array[Double], sigma: Array[Double],
                   centers: Array[Array[Double]])

  private def dec38(c: Column): Column = c.cast("decimal(38,0)")
  private def dec19(c: Column): Column = c.cast("decimal(19,0)")

  /** Literal-centers assignment via the codegen'd
    * [[graft.functions.KMeansAssign]] kernel — argmin of the
    * left-associated squared distance, ties to the smallest index (see the
    * kernel's doc for why neither a CASE ladder nor the higher-order-
    * function form survives the per-iteration cost test). */
  def assignExpr(zCols: Seq[Column], centers: Array[Array[Double]]): Column =
    graft.functions.KMeansAssign.of(
      array(zCols: _*), typedLit(centers.map(_.toSeq).toSeq))

  /** [[fit]] through [[graft.Memo]], keyed by (input-plan digest, feature
    * config): a clustering model is fit ONCE and scored by many queries —
    * refitting per call would charge model-build cost to every lookup (the
    * Ann IVF quantizer, the anomaly detector's ensemble view, segmentation
    * dashboards re-reading the same clusters). Safe because the fit is
    * fully deterministic — a cached and a fresh model are identical, so
    * cached scoring is oracle-indistinguishable from refitting, and two
    * concurrent cold fits of one key store the same model. Either way the
    * frame is [[assign]]ed — the plan [[fit]] itself returns. */
  def fitCached(df: DataFrame, idCol: String, featCols: Seq[String],
                k: Int, iters: Int, standardize: Boolean = true,
                rankInit: Boolean = false): (DataFrame, Model) = {
    // key on a NON-truncating plan digest ([[graft.PlanKey]]): the default
    // toString clips wide plans at spark.sql.debug.maxToStringFields, so
    // two different ~66-column projections (the IVF path) could collide on
    // the clipped string and serve the wrong cached model.
    val key = (graft.PlanKey.digest(df),
      idCol + "|" + featCols.mkString(","), k, iters, standardize, rankInit)
    val m = graft.Memo.get("kmeans.model", key)(
      fit(df, idCol, featCols, k, iters, standardize, rankInit)._2)
    (assign(df, featCols, m), m)
  }

  /** Re-derive z-columns + `cluster` for any frame with the model's feature
    * columns — the scoring path for a cached [[Model]] (e.g. Ann's IVF
    * index cache skips the fit but still assigns inverted lists). */
  def assign(df: DataFrame, featCols: Seq[String], model: Model): DataFrame =
    df.select(col("*") +: zCols(featCols, model.mu, model.sigma): _*)
      .withColumn("cluster", assignExpr(featCols.indices.map(i => col(s"z$i")), model.centers))

  /** z_i = (x_i − μ_i)/σ_i as doubles. Where μ_i = 0 and σ_i = 1 (every
    * feature of a raw-space fit) z_i is the feature cast to double: on an
    * integral feature (x − 0.0)/1.0 is x bit for bit, so the no-op
    * arithmetic stays out of the (often 64-column) projection. */
  private def zCols(featCols: Seq[String], mu: Array[Double], sigma: Array[Double]): Seq[Column] =
    featCols.indices.map { i =>
      val x = col(featCols(i)).cast("double")
      (if (mu(i) == 0.0 && sigma(i) == 1.0) x else (x - lit(mu(i))) / lit(sigma(i))).as(s"z$i")
    }

  /** Fit + assign: returns (df ∪ z-columns ∪ `cluster`, model). `featCols`
    * must be integral columns
    * (long-valued). Constant features standardize with σ := 1 (both
    * engines share the rule). The caller should persist `df` if its lineage
    * is expensive — fit scans it 3 + iters times. */
  /** `rankInit = true` replaces the maxmin init with RANK INIT: centers =
    * the k md5-rank-smallest rows (cluster j = rank j+1), the same total
    * order the maxmin seed already uses. Two reasons a consumer opts in
    * (the size-derived IVF/SemDeDup families do):
    *  - the maxmin init is O(n·k) per round × k rounds = O(n·k²), and its
    *    DuckDB replay is 2 CTEs PER CENTER — at a size-derived k (√n) the
    *    oracle chain would grow with the corpus (the CTE-budget lesson).
    *    Rank init is one LIMIT on an existing ordering: O(1) CTEs, and k
    *    becomes pure DATA (a scalar in `rn <= k`), never SQL structure;
    *  - FAISS-style coarse quantizers use random-subset init + Lloyd
    *    refinement anyway; the spread that maxmin buys matters for small
    *    semantic k (customer segments), not for partition geometry.
    * Duplicate rows among the k seeds leave duplicate centers; ties in
    * assignment go to the smallest cluster id, so one twin starves and
    * stays at its init position — wasted lists, never wrong results. */
  def fit(df: DataFrame, idCol: String, featCols: Seq[String],
          k: Int, iters: Int, standardize: Boolean = true,
          rankInit: Boolean = false): (DataFrame, Model) = {
    val nF = featCols.length

    val (n, mu, sigma) =
      if (!standardize) {
        // raw-space mode (μ=0, σ=1 — z IS the feature as a double): the
        // right geometry when the features already share one scale (Ann's
        // IVF quantizer — per-dim standardization warps the shared-scale
        // embedding space and measured recall 0.60 vs 0.63 raw at the same
        // probe budget)
        (df.count(), Array.fill(nF)(0.0), Array.fill(nF)(1.0))
      } else {
        // pass 1: n + exact decimal sums → driver (1 row)
        val sumAgg = featCols.map(f => sum(dec38(col(f))).as(s"s_$f"))
        val r1 = df.agg(Exact.countAll.as("n"), sumAgg: _*).head
        val n0 = r1.getLong(0)
        require(n0 > 0, "DetKMeans.fit on an empty frame")
        val sums = featCols.indices.map(i => r1.getDecimal(i + 1).toBigInteger)
        val nBig = java.math.BigInteger.valueOf(n0)
        val ctr = sums.map(_.divide(nBig).longValueExact())         // S div n (exact)
        val tRem = sums.map(_.remainder(nBig).longValueExact().toDouble) // C-style rem

        // pass 2: shifted second moments with literal centers (exact decimals)
        val sd2Agg = featCols.zip(ctr).map { case (f, c) =>
          val d = dec19(col(f) - lit(c))
          sum(d * d).as(s"sd2_$f")
        }
        val r2 = df.agg(sd2Agg.head, sd2Agg.tail: _*).head
        val nD = n0.toDouble
        val mu0 = sums.map(s => Exact.bigDecToDoubleJvm(new java.math.BigDecimal(s)) / nD).toArray
        val sigma0 = featCols.indices.map { i =>
          val sd2 = Exact.bigDecToDoubleJvm(r2.getDecimal(i))
          val v = if (n0 <= 1) 0.0 else (sd2 - (tRem(i) * tRem(i)) / nD) / (nD - 1.0)
          if (v <= 0.0) 1.0 else math.sqrt(v)
        }.toArray
        (n0, mu0, sigma0)
      }

    val z = df.select(col("*") +: zCols(featCols, mu, sigma): _*)

    val zNames = featCols.indices.map(i => s"z$i")
    val work = z

    // ONE narrow primitive-array materialization feeds both the init rounds
    // and the Lloyd's loop (the MLlib shape). The DataFrame formulation (an
    // agg job per pass) measured ~0.6 s/pass of pure driver
    // planning/scheduling overhead at sf0.1; here a pass is a ~30 ms
    // map-side-combined treeAggregate.
    val nFi = nF
    // features cast to long explicitly: the getLong below would otherwise
    // ClassCastException on an IntegerType column, which the "integral
    // columns" contract admits
    val ptsRdd = work
      .select(col(idCol).cast("long").as("__id") +:
        (featCols.map(c => col(c).cast("long")) ++ zNames.map(col)): _*).rdd
      .map { r =>
        val xs = new Array[Long](nFi)
        val zs = new Array[Double](nFi)
        var i = 0
        while (i < nFi) { xs(i) = r.getLong(i + 1); zs(i) = r.getDouble(nFi + i + 1); i += 1 }
        (r.getLong(0), xs, zs)
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // init: deterministic farthest-point (maxmin). Seed = the row with the
    // smallest md5(id) (the hash_split recipe; one distributed
    // TakeOrdered); each further center is the point with the LARGEST
    // min-distance to the centers so far, ties to the smallest id — a
    // greedy spread both engines replay (against pure-Forgy seeds this
    // traded a small IVF recall@3 dip for a balanced, reproducible
    // partition — see AnnSpec's recall/coverage curve). Each round
    // is one treeAggregate pass over the cached points.
    var centers: Array[Array[Double]] =
      if (rankInit) {
        // rank init: the k md5-rank-smallest rows, in rank order (bounded
        // collect: k rows of d doubles). Re-sorted driver-side so the
        // center order is pinned by values, not by TakeOrdered internals.
        z.withColumn("__h", md5(col(idCol).cast("string")))
          .orderBy(col("__h"), col(idCol)).limit(k)
          .select(col("__h") +: col(idCol).cast("long").as("__id") +: zNames.map(col): _*)
          .collect()
          .sortBy(r => (r.getString(0), r.getLong(1)))
          .map(row => zNames.indices.map(i => row.getDouble(i + 2)).toArray)
      } else {
        val seedRow = z
          .withColumn("__h", md5(col(idCol).cast("string")))
          .orderBy(col("__h"), col(idCol)).limit(1)
          .select(zNames.map(col): _*)
          .collect()                                               // 1 row
        seedRow.map(row => zNames.indices.map(i => row.getDouble(i)).toArray)
      }
    while (!rankInit && centers.length < k) {
      val ctrs = centers
      // (bestDmin, bestId, bestZ): the farthest point so far
      val far = ptsRdd.treeAggregate((-1.0, Long.MaxValue, null: Array[Double]))(
        seqOp = { case (acc, (id, _, zs)) =>
          var dmin = Double.PositiveInfinity
          var j = 0
          while (j < ctrs.length) {
            val c = ctrs(j)
            var d = 0.0
            var i = 0
            while (i < nFi) { val t = zs(i) - c(i); d += t * t; i += 1 }
            if (d < dmin) dmin = d
            j += 1
          }
          if (dmin > acc._1 || (dmin == acc._1 && id < acc._2)) (dmin, id, zs) else acc
        },
        combOp = { (a, b) =>
          if (b._1 > a._1 || (b._1 == a._1 && b._2 < a._2)) b else a
        })
      centers = centers :+ far._3
    }

    val kEff = centers.length
    // Cluster sums accumulate in an Exact.LongSums buffer (cluster-major,
    // j·nF + i): plain long adds with a BigInteger carry on overflow, so the
    // loop allocates nothing per row and the totals stay exact.
    def zeroAcc: (Array[Long], Exact.LongSums) =
      (new Array[Long](kEff), new Exact.LongSums(kEff * nFi))
    for (_ <- 1 to iters) {
      val ctrs = centers                       // capture this iteration's value
      val (ms, sums) = ptsRdd.treeAggregate(zeroAcc)(
        seqOp = { case (acc, (_, xs, zs)) =>
          var best = 0
          var bestD = Double.PositiveInfinity
          var j = 0
          while (j < kEff) {
            val c = ctrs(j)
            var d = 0.0
            var i = 0
            while (i < nFi) { val t = zs(i) - c(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = j }
            j += 1
          }
          acc._1(best) += 1
          val base = best * nFi
          var i = 0
          while (i < nFi) { acc._2.add(base + i, xs(i)); i += 1 }
          acc
        },
        combOp = { (a, b) =>
          var j = 0
          while (j < kEff) { a._1(j) += b._1(j); j += 1 }
          a._2.merge(b._2)
          a
        })
      centers = centers.zipWithIndex.map { case (old, j) =>
        if (ms(j) == 0L) old                                    // empty cluster
        else {
          val m = ms(j).toDouble
          featCols.indices.map { i =>
            val total = sums.total(j * nFi + i)
            (Exact.bigDecToDoubleJvm(new java.math.BigDecimal(total)) / m
              - mu(i)) / sigma(i)
          }.toArray
        }
      }
    }
    ptsRdd.unpersist(blocking = false)
    val out = work.withColumn("cluster", assignExpr(zNames.map(col), centers))
    (out, Model(n, mu, sigma, centers))
  }

  // ---------------------------------------------------------------- oracle

  /** DuckDB twin of [[fit]]: given a CTE `f(id, x0..x{n-1})` of exact
    * integer features, emits the full WITH-chain — standardization stats,
    * rank init, `iters` unrolled assign/update pairs — ending in CTE
    * `afin` = f's columns ∪ z0..z{n-1} ∪ cluster. The caller appends its
    * own final SELECT. Arithmetic mirrors [[fit]] op-for-op (see the
    * class doc); `//`/`%` run on HUGEINT (DuckDB's DECIMAL `//` rounds
    * before flooring — measured, not guessed). Every CTE is MATERIALIZED:
    * with default inlining each iteration references its predecessor twice
    * (assign and carry-forward), so the inlined plan doubles per iteration —
    * the same geometric blowup the portable-ln ladders hit ("the staging
    * lesson"); materialization makes the chain linear. */
  /** `prefix` namespaces every generated CTE (st, z, ci*, a*, s*, c*,
    * afin, ...) so several independent fits can share ONE top-level WITH —
    * nesting whole fits in CTE subqueries instead loses the MATERIALIZED
    * hints and re-triggers the geometric blowup (measured by ann_pq's
    * first 16-codebook oracle: minutes instead of seconds at 500 rows).
    * The caller's `fCte` must then define `<prefix>f`. */
  /** `rankInit` mirrors [[fit]]'s rank-init mode: c0 = the first k rows of
    * the rk ordering — O(1) CTEs instead of 2 per center, which is what
    * lets `kRefSql` exist at all. `kRefSql` (requires rankInit) replaces
    * the literal k with a SQL scalar expression (e.g. a size-derived
    * `(SELECT k FROM geo)`), making the cluster count runtime DATA — the
    * caller defines the geo CTE inside its own `fCte`. */
  def oracleCtes(fCte: String, idCol: String, nFeats: Int,
                 k: Int, iters: Int, standardize: Boolean = true,
                 prefix: String = "", rankInit: Boolean = false,
                 kRefSql: String = ""): String = {
    require(kRefSql.isEmpty || rankInit,
      "kRefSql (runtime cluster count) requires rankInit — the maxmin " +
        "init unrolls k into CTE structure and cannot take a runtime k")
    val P = prefix
    val xs = (0 until nFeats).map(i => s"x$i")
    val b = new StringBuilder
    b ++= fCte ++ ",\n"
    if (standardize) {
      b ++= s"${P}st AS MATERIALIZED (SELECT COUNT(*) AS n, " +
        xs.map(x => s"SUM(CAST($x AS DECIMAL(38,0))) AS s_$x").mkString(", ") +
        s" FROM ${P}f),\n"
      b ++= s"${P}ctr AS MATERIALIZED (SELECT n, " + xs.map(x =>
        s"CAST(CAST(s_$x AS HUGEINT) // n AS BIGINT) AS c_$x, " +
        s"CAST(CAST(s_$x AS HUGEINT) % n AS DOUBLE) AS t_$x, " +
        Exact.bigDecToDoubleSignedSql(s"s_$x") + s" AS sd_$x").mkString(", ") +
        s" FROM ${P}st),\n"
      b ++= s"${P}sd AS MATERIALIZED (SELECT " + xs.map(x =>
        s"SUM(CAST($x - c_$x AS DECIMAL(19,0)) * CAST($x - c_$x AS DECIMAL(19,0))) AS sd2_$x")
        .mkString(", ") + s" FROM ${P}f CROSS JOIN ${P}ctr),\n"
      b ++= s"${P}ms AS MATERIALIZED (SELECT n, CAST(n AS DOUBLE) AS nd, " + xs.map(x =>
        s"sd_$x / CAST(n AS DOUBLE) AS mu_$x").mkString(", ") + ", " +
        xs.map { x =>
          val v = s"(${Exact.bigDecToDoubleSql(s"sd2_$x")} - (t_$x * t_$x) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0)"
          s"CASE WHEN n <= 1 OR $v <= 0.0 THEN 1.0 ELSE sqrt($v) END AS sig_$x"
        }.mkString(", ") +
        s" FROM ${P}ctr CROSS JOIN ${P}sd),\n"
    } else {
      // raw-space mode: μ=0, σ=1 constants — (x − 0.0) / 1.0 is IEEE-exact
      // x on both engines, so the z CTE and cluster updates stay shared
      b ++= s"${P}ms AS MATERIALIZED (SELECT " +
        (xs.map(x => s"0.0 AS mu_$x") ++ xs.map(x => s"1.0 AS sig_$x")).mkString(", ") +
        "),\n"
    }
    b ++= s"${P}z AS MATERIALIZED (SELECT ${P}f.*, " + xs.zipWithIndex.map { case (x, i) =>
      s"(CAST($x AS DOUBLE) - mu_$x) / sig_$x AS z$i" }.mkString(", ") +
      s" FROM ${P}f CROSS JOIN ${P}ms),\n"
    val zAll = (0 until nFeats).map(i => s"z$i")
    val dist = (0 until nFeats).map(i => s"(z$i - g$i) * (z$i - g$i)")
      .reduce((a, x) => s"($a + $x)")
    val gSel = (0 until nFeats).map(i => s"z$i AS g$i").mkString(", ")
    // farthest-point init: seed at the md5-smallest row, then k−1 greedy
    // maxmin rounds — ci{r} carries the first r centers
    b ++= s"${P}rk AS MATERIALIZED (SELECT ${P}z.*, row_number() OVER " +
      s"(ORDER BY md5(CAST($idCol AS VARCHAR)), $idCol) AS rn FROM ${P}z),\n"
    if (rankInit) {
      val kRef = if (kRefSql.nonEmpty) kRefSql else k.toString
      b ++= s"${P}c0 AS MATERIALIZED (SELECT CAST(rn - 1 AS BIGINT) AS cluster, $gSel " +
        s"FROM ${P}rk WHERE rn <= $kRef),\n"
    } else {
      b ++= s"${P}ci1 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS cluster, $gSel FROM ${P}rk WHERE rn = 1),\n"
      for (r <- 2 to k) {
        val prev = s"${P}ci${r - 1}"
        b ++= s"${P}md$r AS MATERIALIZED (SELECT $idCol, " + zAll.mkString(", ") +
          s", MIN($dist) AS dmin FROM ${P}z CROSS JOIN $prev GROUP BY " +
          (Seq(idCol) ++ zAll).mkString(", ") + "),\n"
        b ++= s"${P}ci$r AS MATERIALIZED (SELECT * FROM $prev UNION ALL " +
          s"SELECT CAST(${r - 1} AS BIGINT) AS cluster, $gSel " +
          s"FROM (SELECT * FROM ${P}md$r ORDER BY dmin DESC, $idCol LIMIT 1)),\n"
      }
      b ++= s"${P}c0 AS MATERIALIZED (SELECT * FROM ${P}ci$k),\n"
    }
    def assignCte(name: String, from: String): String =
      s"$P$name AS MATERIALIZED (SELECT $idCol, " + (xs ++ zAll).mkString(", ") +
        s", (min({'d': $dist, 'j': cluster})).j AS cluster" +
        s" FROM ${P}z CROSS JOIN $P$from GROUP BY " +
        (Seq(idCol) ++ xs ++ zAll).mkString(", ") + ")"
    for (t <- 1 to iters) {
      b ++= assignCte(s"a$t", s"c${t - 1}") ++ ",\n"
      b ++= s"${P}s$t AS MATERIALIZED (SELECT cluster, COUNT(*) AS m, " +
        xs.map(x => s"SUM(CAST($x AS DECIMAL(38,0))) AS s_$x").mkString(", ") +
        s" FROM ${P}a$t GROUP BY 1),\n"
      b ++= s"${P}c$t AS MATERIALIZED (SELECT p.cluster, " + xs.zipWithIndex.map { case (x, i) =>
        s"CASE WHEN ${P}s$t.m IS NULL THEN p.g$i ELSE " +
          s"(${Exact.bigDecToDoubleSignedSql(s"${P}s$t.s_$x")} / CAST(${P}s$t.m AS DOUBLE) - mu_$x) / sig_$x END AS g$i"
      }.mkString(", ") +
        s" FROM ${P}c${t - 1} p LEFT JOIN ${P}s$t USING (cluster) CROSS JOIN ${P}ms),\n"
    }
    b ++= assignCte("afin", s"c$iters")
    b.toString
  }
}
