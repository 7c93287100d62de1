package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SemDeDup — semantic deduplication over an embedding corpus (Abbas et
  * al. 2023, arXiv:2303.09540): k-means the embedding space, compare
  * pairwise cosine ONLY within a cluster, and from every group of
  * semantic duplicates keep the example FARTHEST from its cluster
  * centroid (the paper's "lowest cosine similarity to the centroid" rule
  * — it preserves the diverse tail instead of the redundant core).
  *
  * Reference anchor: the reference corpus pipeline dedups on exact hash +
  * MinHash text similarity only (`src/etl/gold`, `src/vector_search`);
  * semantic near-dup removal is the standard published complement for
  * training-data curation and slots beside `dedup/MinHashLsh.scala`.
  *
  * Spark-first shape, and how each stage scales to 100 TB:
  *
  *  1. EXACT-TWIN COLLAPSE (the dedup_minhash/incremental_neardup
  *     precedent, `dedup/Collapse.scala` rationale): identical q20
  *     vectors collapse to one representative (min vec_id) before
  *     clustering, so an m×-replicated corpus costs the same fit and m²×
  *     fewer pairs; twins rejoin their rep's component at fan-back (cos =
  *     1 ≥ τ by definition, and an identical vector lands in the
  *     identical cluster). One vector-keyed shuffle.
  *  2. CLUSTER: the IVF quantizer geometry verbatim — q20 components
  *     re-projected onto the 2^20 sphere ([[graft.ann.Ann.ivfProj]]) and
  *     clustered by the deterministic [[graft.ml.DetKMeans]]
  *     (md5-seeded maxmin init, fixed iterations, raw-space mode). On
  *     the sphere, Euclidean Lloyd's clusters ANGULAR neighborhoods —
  *     the metric the cosine τ-graph actually uses. Centroids are a
  *     k×64 literal: constant-size at any corpus scale.
  *  3. PAIR within cluster only: the self-join shuffles on the cluster
  *     id, so the quadratic is bounded per cluster — `nClusters` is the
  *     paper's own scale lever (they run 50k clusters on LAION). Since
  *     r16 the default is SIZE-DERIVED: ⌈√n_reps⌉ clusters
  *     ([[graft.ann.Ann.nListsFor]] over the collapsed rep count), so
  *     within-cluster pairwise stays ~n^1.5 total instead of n²/8 at any
  *     corpus; the knob stays exposed. Scoring is the codegen'd
  *     exact-integer cosine kernel (ArrayCosineQ20).
  *  4. COMPONENTS: min-label propagation over the τ-edge graph
  *     (the dedup_clusters loop — components are cluster-scoped by
  *     construction, so width is cosine-clique-bounded and tiny).
  *  5. KEEPER ELECTION: within a component, rank by squared distance to
  *     the assigned centroid DESC (on the 2^20 sphere d² = 2R²(1−cosθ),
  *     so max-d² IS the paper's min-cosine-to-centroid rule, computed in
  *     the exact z-space the oracle replays), ties to min vec_id —
  *     exact twins share d² and fall to the id tie.
  *
  * Every stage is engine-replayable — the DuckDB oracle replays the
  * collapse, the DetKMeans fit ([[graft.ml.DetKMeans.oracleCtes]]), the
  * left-associated d² chain, the pairwise q20 cosine, and the components
  * (recursive CTE) — so the query is hash-gated, not rows-only. */
object SemDeDup {

  import graft.ann.Ann.{IvfDims, IvfIters}

  /** Default semantic-duplicate threshold for the synthetic isotropic
    * embeddings (max pairwise cosine ≈ 0.5 — the embed_neardup demo
    * value); real curation runs use ~0.95 on trained encoders. */
  val DefaultTau = 0.4

  /** (vec_id, cluster, component, n_members, is_keeper) for every
    * embedding row. `component` is the min vec_id reachable through
    * τ-edges (singletons: the row itself); `n_members` counts the
    * component's members; `is_keeper` marks the paper-rule survivor. */
  def semDedup(spark: SparkSession, dir: String,
               nClusters: Int = 0, tau: Double = DefaultTau,
               maxIters: Int = 1000, ordered: Boolean = true): DataFrame = {
    import graft.ann.Ann
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))

    // 1. exact-twin collapse on the quantized vector (identity = the q20
    //    array itself; two vectors that quantize identically score
    //    identically everywhere downstream)
    val qv = emb.withColumn("__qe", Ann.quantize(col("embedding")))
    val members = qv
      .withColumn("rep_id", min(col("vec_id")).over(Window.partitionBy(col("__qe"))))
      .select(col("vec_id"), col("rep_id"))
      .localCheckpoint(false)
    val reps = qv
      .join(members.filter(col("vec_id") === col("rep_id")).select("rep_id"),
        col("vec_id") === col("rep_id"))
      .select(col("rep_id"), col("embedding"))

    // 2. spherical projection + deterministic k-means (raw-space mode —
    //    the IVF quantizer recipe; fit scans 3+iters times, so persist)
    val xs = (0 until IvfDims).map(i => s"x$i")
    val feats = Ann.ivfProj(reps, "embedding").persist()
    // nClusters = 0 (default) sizes from the collapsed rep count: reps are
    // distinct by construction, so a plain count is the collapsed n
    val kC = if (nClusters > 0) nClusters
             else Ann.nListsFor(Ann.cachedCount(feats.select("rep_id")))
    val (assigned0, model) = graft.ml.DetKMeans.fitCached(
      feats, "rep_id", xs, kC, IvfIters, standardize = false,
      rankInit = true)
    // d² to the assigned centroid, left-associated like the oracle chain
    val centroids = {
      import spark.implicits._
      model.centers.zipWithIndex
        .map { case (g, i) => (i.toLong, g.toSeq) }.toSeq
        .toDF("cluster", "g")
    }
    val d2 = (0 until IvfDims).map { i =>
      (col(s"z$i") - element_at(col("g"), i + 1)) *
        (col(s"z$i") - element_at(col("g"), i + 1))
    }.reduce(_ + _)
    val assigned = assigned0.join(broadcast(centroids), "cluster")
      .withColumn("__d2", d2)
      .select(col("rep_id"), col("cluster"), col("embedding"), col("__d2"))
      .localCheckpoint(false)
    feats.unpersist()

    // 3. within-cluster τ-pairs (exact-integer cosine; NULL on zero norms
    //    falls out of the ≥ τ filter, so zero vectors pair only as twins)
    val a = assigned.select(col("rep_id").as("ra"), col("cluster"),
      col("embedding").as("ea"))
    val b = assigned.select(col("rep_id").as("rb"), col("cluster"),
      col("embedding").as("eb"))
    val edges = a.join(b, Seq("cluster"))
      .filter(col("ra") < col("rb"))
      .filter(Ann.fixedPointCosine(col("ea"), col("eb")) >= tau)
      .select(col("ra"), col("rb"))
      .localCheckpoint(false)

    // 4. components over rep edges (min-label propagation; cluster-scoped
    //    cliques keep widths tiny, the loop is the dedup_clusters shape)
    val comp = propagateMin(edges, maxIters)

    // 5. fan back to members + keeper election (max d², ties min vec_id)
    val repSizes = members.groupBy("rep_id").agg(count(lit(1)).as("__msz"))
    val withComp = members
      .join(repSizes, "rep_id")
      .join(comp, Seq("rep_id"), "left")
      .join(assigned.select(col("rep_id"), col("cluster"), col("__d2")), "rep_id")
      .withColumn("component", coalesce(col("component"),
        when(col("__msz") > 1L, col("rep_id")).otherwise(col("vec_id"))))
    val sizes = withComp.groupBy("component").agg(count(lit(1)).as("n_members"))
    val wk = Window.partitionBy(col("component"))
      .orderBy(col("__d2").desc, col("vec_id"))
    val out = withComp.join(sizes, "component")
      .withColumn("is_keeper", row_number().over(wk) === 1)
      .select(col("vec_id"), col("cluster"), col("component"),
        col("n_members").cast("long").as("n_members"), col("is_keeper"))
    if (ordered) out.orderBy("vec_id") else out
  }

  /** Min-label propagation over an undirected rep-edge list: returns
    * (rep_id, component) for every edge-touched rep. Runs UNTIL CONVERGED
    * (τ-cliques within one k-means cluster converge in a handful of
    * rounds; rounds are cheap once lineage is truncated per round), and
    * THROWS if `maxIters` is hit first — a warning here would let a
    * component with diameter > the budget silently under-merge while the
    * oracle's recursive CTE fully converges, failing the hash gate with
    * no diagnosable cause (advice-r14; the DedupClusters strict
    * contract). `maxIters` is a runaway safety rail, not a quality knob. */
  private def propagateMin(pairs: DataFrame, maxIters: Int): DataFrame = {
    val edges = pairs
      .unionByName(pairs.select(col("rb").as("ra"), col("ra").as("rb")))
      .select(col("ra").as("src"), col("rb").as("dst"))
      .localCheckpoint(false)
    // each round's frame has its lineage CUT, not just persisted: persist
    // caches EXECUTION but the logical plan still grows a join+union+agg
    // layer per round, and Catalyst re-analyzes the whole tree on every
    // round's count — measured 6.4 s for round 7 alone (vs 0.4 s flat with
    // truncated lineage) on a 344-edge graph. The label frames are tiny
    // (edge-touched reps), so the checkpoint blocks are trivially small and
    // the ContextCleaner releases them as rounds fall out of scope.
    // Checkpoints.cut picks reliable-vs-local per the session's checkpoint
    // dir (executor-loss recovery on clusters — see its scaladoc).
    var labels = graft.tools.Checkpoints.cut(
      edges.select(col("src").as("rep_id")).distinct()
        .withColumn("component", col("rep_id")))
    // size-gated broadcast of the per-round label frame (the GraphOps loop
    // recipe): labels is one 16-byte row per edge-touched rep, and the
    // checkpointed frames report UnknownPartitioning + default stats, so
    // each round otherwise statically plans a SortMergeJoin with two
    // exchanges. One count over the materialized checkpoint gates it.
    val hintLabels =
      labels.count() <= graft.operators.GraphOps.BroadcastRanksMaxNodes
    var converged = false
    var i = 0
    while (!converged) {
      val lbl = if (hintLabels) broadcast(labels) else labels
      val msgs = edges.join(lbl, edges("src") === labels("rep_id"))
        .select(col("dst").as("rep_id"), col("component"),
          lit(null).cast("long").as("old"))
      val next = graft.tools.Checkpoints.cut(labels
        .select(col("rep_id"), col("component"), col("component").as("old"))
        .unionByName(msgs)
        .groupBy("rep_id")
        .agg(min("component").as("component"), max("old").as("old")))
      val changed = next.filter(col("component") =!= col("old")).count()
      labels = next.select("rep_id", "component")
      converged = changed == 0
      i += 1
      if (!converged && i >= maxIters)
        throw new IllegalStateException(s"[semdedup] label propagation hit " +
          s"the maxIters=$maxIters safety rail before converging — " +
          "min-label propagation converges within the widest component's " +
          "diameter, so this indicates a pathological edge graph (raise " +
          "maxIters only if such a component is genuinely expected)")
    }
    labels
  }

  // ------------------------------------------- incremental (batch vs settled)

  /** The batch slice of the embeddings table standing in for "tonight's
    * crawl" (the IncrementalDedup `src0` convention, by label here since
    * embeddings carry no source column). */
  val BatchLabel = 0

  /** Incremental SEMANTIC dedup — the nightly embedding batch probed
    * against the settled corpus WITHOUT re-deduping the corpus against
    * itself: the [[graft.dedup.IncrementalDedup]] shape lifted to
    * embedding space, with the frozen-geometry lambda rule from the IVF
    * append arc (`ann_ivf_append`): the quantizer is fit on the SETTLED
    * side only and arriving batches are argmin-assigned to its existing
    * clusters — refits are periodic campaigns, not per-batch costs.
    *
    * Decisions per batch vector, precedence order:
    *   - `drop_exact`       — identical q20 vector exists in the settled
    *                          corpus (keeper = min settled vec_id);
    *   - `drop_exact_batch` — first seen in THIS batch (keeper = min batch
    *                          vec_id with the same vector);
    *   - `drop_near_corpus` — cosine ≥ τ with a settled vector in the
    *                          batch vector's assigned cluster (keeper =
    *                          best match: max cos, tie min vec_id);
    *   - `drop_near_batch`  — cosine ≥ τ with a smaller-id batch rep in
    *                          the same cluster;
    *   - `keep`             — semantically new content.
    *
    * Scale shape: both sides collapse to distinct-vector reps before any
    * pairing (the replicated-corpus bound); the settled side reduces to
    * (qe → min id) + the per-cluster rep lists — in production those ARE
    * the persisted semantic index, so the corpus is never self-joined;
    * the probe joins batch reps against same-cluster settled reps only
    * (candidate volume = batch × cluster density, the IVF-probe bound).
    * Cluster-scoped probing misses straddling near-dups by the same
    * contract as [[semDedup]] itself — nClusters is the recall/cost knob. */
  def semDedupIncremental(spark: SparkSession, dir: String,
                          nClusters: Int = 0, tau: Double = DefaultTau,
                          ordered: Boolean = true): DataFrame = {
    import graft.ann.Ann
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id").cast("long").as("vec_id"),
        col("label").cast("int").as("label"), col("embedding"))
      .withColumn("__qe", Ann.quantize(col("embedding")))
    val settled = emb.filter(col("label") =!= BatchLabel)
    val batch = emb.filter(col("label") === BatchLabel)

    // exact layer (vector identity = the q20 array)
    val corpusKeepers = settled.groupBy("__qe")
      .agg(min(col("vec_id")).as("corpus_keeper"))
    val batchW = batch.withColumn("batch_keeper",
      min(col("vec_id")).over(Window.partitionBy(col("__qe"))))
      .join(corpusKeepers, Seq("__qe"), "left")
      .localCheckpoint(false)

    // near layer runs on REPS that survived the exact layer
    val settledReps = settled
      .withColumn("__rep", min(col("vec_id")).over(Window.partitionBy(col("__qe"))))
      .filter(col("vec_id") === col("__rep"))
      .select(col("vec_id"), col("embedding"))
    val batchReps = batchW
      .filter(col("vec_id") === col("batch_keeper") && col("corpus_keeper").isNull)
      .select(col("vec_id"), col("embedding"))

    // frozen quantizer: fit on settled reps only; batch reps assigned with
    // the model's argmin rule (ties to the smallest centroid id)
    val xs = (0 until IvfDims).map(i => s"x$i")
    val sFeats = Ann.ivfProj(settledReps, "embedding").persist()
    // size-derived from the SETTLED rep count (the frozen-quantizer frame)
    val kC = if (nClusters > 0) nClusters
             else Ann.nListsFor(Ann.cachedCount(sFeats.select("vec_id")))
    val (sAssigned, model) = graft.ml.DetKMeans.fitCached(
      sFeats, "vec_id", xs, kC, IvfIters, standardize = false,
      rankInit = true)
    val sSlim = sAssigned.select(col("vec_id").as("s_id"), col("cluster"),
      col("embedding").as("s_emb")).localCheckpoint(false)
    sFeats.unpersist()
    val bAssigned = graft.ml.DetKMeans.assign(
      Ann.ivfProj(batchReps, "embedding"), xs, model)
      .select(col("vec_id").as("b_id"), col("cluster"),
        col("embedding").as("b_emb")).localCheckpoint(false)

    // best settled match per batch rep (max cos, tie min settled id)
    val corpusBest = bAssigned.join(sSlim, Seq("cluster"))
      .withColumn("__cos", Ann.fixedPointCosine(col("b_emb"), col("s_emb")))
      .filter(col("__cos") >= tau)
      .groupBy("b_id")
      .agg(max(struct(col("__cos").as("c"), (-col("s_id")).as("nid"))).as("__m"))
      .select(col("b_id"), col("__m.c").as("corpus_cos"),
        (-col("__m.nid")).as("corpus_match"))
    // best smaller-id batch-rep match: a self-join of the one checkpoint
    // under two aliases, so both sides plan the same exchange and AQE reuses
    // it — with two equal-sized stages, whichever finished first was
    // broadcast, and the join's generated class changed from run to run
    val (b, o) = (bAssigned.as("b"), bAssigned.as("o"))
    val batchBest = b.join(o, col("b.cluster") === col("o.cluster") &&
        col("o.b_id") < col("b.b_id"))
      .select(col("b.b_id").as("b_id"), col("o.b_id").as("o_id"),
        Ann.fixedPointCosine(col("b.b_emb"), col("o.b_emb")).as("__cos"))
      .filter(col("__cos") >= tau)
      .groupBy("b_id")
      .agg(max(struct(col("__cos").as("c"), (-col("o_id")).as("nid"))).as("__m"))
      .select(col("b_id"), col("__m.c").as("batch_cos"),
        (-col("__m.nid")).as("batch_match"))
    val repDecisions = bAssigned.select(col("b_id"), col("cluster"))
      .join(corpusBest, Seq("b_id"), "left")
      .join(batchBest, Seq("b_id"), "left")

    // fan back: every batch vector gets its decision by precedence
    val out = batchW
      .join(repDecisions.withColumnRenamed("b_id", "vec_id"), Seq("vec_id"), "left")
      .withColumn("decision",
        when(col("corpus_keeper").isNotNull, "drop_exact")
          .when(col("batch_keeper") < col("vec_id"), "drop_exact_batch")
          .when(col("corpus_match").isNotNull, "drop_near_corpus")
          .when(col("batch_match").isNotNull, "drop_near_batch")
          .otherwise("keep"))
      .withColumn("keeper_id",
        when(col("decision") === "drop_exact", col("corpus_keeper"))
          .when(col("decision") === "drop_exact_batch", col("batch_keeper"))
          .when(col("decision") === "drop_near_corpus", col("corpus_match"))
          .when(col("decision") === "drop_near_batch", col("batch_match"))
          .otherwise(lit(null).cast("long")))
      .withColumn("best_cos",
        when(col("decision") === "drop_near_corpus", col("corpus_cos"))
          .when(col("decision") === "drop_near_batch", col("batch_cos"))
          .otherwise(lit(null).cast("double")))
      .select(col("vec_id"), col("decision"), col("keeper_id"), col("best_cos"))
    if (ordered) out.orderBy("vec_id") else out
  }

  /** DuckDB oracle for [[semDedupIncremental]]: exact layer over qe
    * identity, the settled-rep DetKMeans replay, batch assignment via the
    * same argmin struct rule, per-side best-match aggregates, precedence
    * CASE — every step the exact arithmetic the engine runs. */
  def semDedupIncrementalOracle(tau: Double = DefaultTau): String = {
    val pre =
      s"""qv AS MATERIALIZED (
         |  SELECT vec_id, label, qe,
         |    list_sum(list_transform(qe, v -> CAST(v AS BIGINT) * CAST(v AS BIGINT))) AS nrm
         |  FROM (SELECT vec_id, label,
         |          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1048576.0)) AS qe
         |        FROM embeddings)
         |), ck AS MATERIALIZED (
         |  SELECT qe, MIN(vec_id) AS corpus_keeper FROM qv
         |  WHERE label <> $BatchLabel GROUP BY qe
         |), bw AS MATERIALIZED (
         |  SELECT b.vec_id, b.qe, b.nrm,
         |    MIN(b.vec_id) OVER (PARTITION BY b.qe) AS batch_keeper,
         |    ck.corpus_keeper
         |  FROM (SELECT * FROM qv WHERE label = $BatchLabel) b
         |  LEFT JOIN ck USING (qe)
         |), srep AS MATERIALIZED (
         |  SELECT vec_id, qe, nrm FROM (
         |    SELECT vec_id, qe, nrm,
         |      MIN(vec_id) OVER (PARTITION BY qe) AS rep
         |    FROM qv WHERE label <> $BatchLabel)
         |  WHERE vec_id = rep
         |), f AS (
         |  SELECT vec_id,
         |""".stripMargin +
        (0 until IvfDims).map(d =>
          s"    CASE WHEN nrm IS NULL OR nrm = 0 THEN 0 ELSE " +
            s"CAST(round(COALESCE(qe[${d + 1}], 0) * 1048576.0 / sqrt(CAST(nrm AS DOUBLE))) AS BIGINT) END AS x$d")
          .mkString(",\n") +
        "\n  FROM srep),\n" +
        graft.ann.Ann.geoCtes("SELECT COUNT(*) FROM f")
    val d2 = (0 until IvfDims).map(i => s"(b.z$i - c.g$i) * (b.z$i - c.g$i)")
      .reduce((acc, x) => s"($acc + $x)")
    val cosExpr =
      """CASE WHEN a.nrm * b.nrm = 0.0 THEN NULL
        |      ELSE list_sum(list_transform(range(1, LEAST(len(a.qe), len(b.qe)) + 1),
        |             i -> a.qe[i] * b.qe[i])) / sqrt(a.nrm * b.nrm) END""".stripMargin
    "WITH " + graft.ml.DetKMeans.oracleCtes(pre, "vec_id", nFeats = IvfDims,
      k = 0, iters = IvfIters, standardize = false,
      rankInit = true, kRefSql = "(SELECT k FROM geo)") + ",\n" +
      s"""brep AS MATERIALIZED (
         |  SELECT vec_id, qe, nrm FROM bw
         |  WHERE vec_id = batch_keeper AND corpus_keeper IS NULL
         |), bz AS MATERIALIZED (
         |  SELECT vec_id,
         |""".stripMargin +
      (0 until IvfDims).map(d =>
        s"    CAST(CASE WHEN nrm IS NULL OR nrm = 0 THEN 0 ELSE " +
          s"CAST(round(COALESCE(qe[${d + 1}], 0) * 1048576.0 / sqrt(CAST(nrm AS DOUBLE))) AS BIGINT) END AS DOUBLE) AS z$d")
        .mkString(",\n") +
      s"""
         |  FROM brep
         |), bassign AS MATERIALIZED (
         |  SELECT b.vec_id AS b_id,
         |    (min({'d': $d2, 'j': c.cluster})).j AS cluster
         |  FROM bz b CROSS JOIN c$IvfIters c
         |  GROUP BY b.vec_id
         |), cbest AS MATERIALIZED (
         |  SELECT b_id, (max({'c': cos, 'nid': -s_id})).c AS corpus_cos,
         |    -(max({'c': cos, 'nid': -s_id})).nid AS corpus_match
         |  FROM (
         |    SELECT ba.b_id, a.vec_id AS s_id, $cosExpr AS cos
         |    FROM bassign ba
         |    JOIN afin sf ON sf.cluster = ba.cluster
         |    JOIN srep a ON a.vec_id = sf.vec_id
         |    JOIN qv b ON b.vec_id = ba.b_id)
         |  WHERE cos >= $tau
         |  GROUP BY b_id
         |), bbest AS MATERIALIZED (
         |  SELECT b_id, (max({'c': cos, 'nid': -o_id})).c AS batch_cos,
         |    -(max({'c': cos, 'nid': -o_id})).nid AS batch_match
         |  FROM (
         |    SELECT ba.b_id, o.b_id AS o_id, $cosExpr AS cos
         |    FROM bassign ba
         |    JOIN bassign o ON o.cluster = ba.cluster AND o.b_id < ba.b_id
         |    JOIN qv a ON a.vec_id = o.b_id
         |    JOIN qv b ON b.vec_id = ba.b_id)
         |  WHERE cos >= $tau
         |  GROUP BY b_id
         |), dec AS (
         |  SELECT bw.vec_id,
         |    CASE WHEN bw.corpus_keeper IS NOT NULL THEN 'drop_exact'
         |         WHEN bw.batch_keeper < bw.vec_id THEN 'drop_exact_batch'
         |         WHEN cbest.corpus_match IS NOT NULL THEN 'drop_near_corpus'
         |         WHEN bbest.batch_match IS NOT NULL THEN 'drop_near_batch'
         |         ELSE 'keep' END AS decision,
         |    bw.corpus_keeper, bw.batch_keeper,
         |    cbest.corpus_cos, cbest.corpus_match,
         |    bbest.batch_cos, bbest.batch_match
         |  FROM bw
         |  LEFT JOIN cbest ON cbest.b_id = bw.vec_id
         |  LEFT JOIN bbest ON bbest.b_id = bw.vec_id
         |)
         |SELECT vec_id, decision,
         |  CASE decision WHEN 'drop_exact' THEN corpus_keeper
         |                WHEN 'drop_exact_batch' THEN batch_keeper
         |                WHEN 'drop_near_corpus' THEN corpus_match
         |                WHEN 'drop_near_batch' THEN batch_match END AS keeper_id,
         |  CASE decision WHEN 'drop_near_corpus' THEN corpus_cos
         |                WHEN 'drop_near_batch' THEN batch_cos END AS best_cos
         |FROM dec
         |ORDER BY vec_id""".stripMargin
  }

  /** DuckDB oracle: the full replay — collapse, spherical features, the
    * DetKMeans CTE chain, left-assoc d², pairwise q20 cosine within
    * cluster, recursive-CTE components, and the (d² DESC, vec_id) keeper
    * window — every arithmetic step in the exact form the engine runs. */
  def semDedupOracle(tau: Double = DefaultTau): String = {
    val pre =
      """qv AS MATERIALIZED (
        |  SELECT vec_id, qe,
        |    list_sum(list_transform(qe, v -> CAST(v AS BIGINT) * CAST(v AS BIGINT))) AS nrm
        |  FROM (SELECT vec_id,
        |          list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 1048576.0)) AS qe
        |        FROM embeddings)
        |), mem AS MATERIALIZED (
        |  SELECT vec_id, MIN(vec_id) OVER (PARTITION BY qe) AS rep_id FROM qv
        |), rp AS MATERIALIZED (
        |  SELECT q.vec_id AS rep_id, q.qe, q.nrm
        |  FROM qv q JOIN (SELECT DISTINCT rep_id FROM mem) r ON q.vec_id = r.rep_id
        |), f AS (
        |  SELECT rep_id,
        |""".stripMargin +
        (0 until IvfDims).map(d =>
          s"    CASE WHEN nrm IS NULL OR nrm = 0 THEN 0 ELSE " +
            s"CAST(round(COALESCE(qe[${d + 1}], 0) * 1048576.0 / sqrt(CAST(nrm AS DOUBLE))) AS BIGINT) END AS x$d")
          .mkString(",\n") +
        "\n  FROM rp),\n" +
        graft.ann.Ann.geoCtes("SELECT COUNT(*) FROM f")
    val d2 = (0 until IvfDims).map(i => s"(a.z$i - c.g$i) * (a.z$i - c.g$i)")
      .reduce((acc, x) => s"($acc + $x)")
    "WITH RECURSIVE " + graft.ml.DetKMeans.oracleCtes(pre, "rep_id",
      nFeats = IvfDims, k = 0, iters = IvfIters, standardize = false,
      rankInit = true, kRefSql = "(SELECT k FROM geo)") + ",\n" +
      s"""dd AS MATERIALIZED (
         |  SELECT a.rep_id, a.cluster, $d2 AS d2
         |  FROM afin a JOIN c$IvfIters c ON a.cluster = c.cluster
         |), pe AS MATERIALIZED (
         |  SELECT a.rep_id AS ra, b.rep_id AS rb
         |  FROM afin a JOIN afin b ON a.cluster = b.cluster AND a.rep_id < b.rep_id
         |  JOIN rp qa ON qa.rep_id = a.rep_id
         |  JOIN rp qb ON qb.rep_id = b.rep_id
         |  WHERE qa.nrm * qb.nrm > 0
         |    AND list_sum(list_transform(range(1, LEAST(len(qa.qe), len(qb.qe)) + 1),
         |          i -> qa.qe[i] * qb.qe[i])) / sqrt(qa.nrm * qb.nrm) >= $tau
         |), ed AS (
         |  SELECT ra AS s, rb AS d FROM pe UNION ALL SELECT rb, ra FROM pe
         |), nodes AS (SELECT DISTINCT s AS node FROM ed),
         |reach(node, r) AS (
         |  SELECT node, node FROM nodes
         |  UNION
         |  SELECT e.d, reach.r FROM reach JOIN ed e ON e.s = reach.node
         |), comp AS (
         |  SELECT node AS rep_id, MIN(r) AS component FROM reach GROUP BY 1
         |), msz AS (
         |  SELECT rep_id, COUNT(*) AS m FROM mem GROUP BY 1
         |), wc AS (
         |  SELECT mem.vec_id, dd.cluster, dd.d2,
         |    COALESCE(comp.component,
         |      CASE WHEN msz.m > 1 THEN mem.rep_id ELSE mem.vec_id END) AS component
         |  FROM mem
         |  JOIN msz USING (rep_id)
         |  LEFT JOIN comp USING (rep_id)
         |  JOIN dd USING (rep_id)
         |), cs AS (
         |  SELECT component, COUNT(*) AS n_members FROM wc GROUP BY 1
         |)
         |SELECT wc.vec_id, wc.cluster, wc.component,
         |  CAST(cs.n_members AS BIGINT) AS n_members,
         |  (ROW_NUMBER() OVER (PARTITION BY wc.component
         |     ORDER BY wc.d2 DESC, wc.vec_id) = 1) AS is_keeper
         |FROM wc JOIN cs USING (component)
         |ORDER BY wc.vec_id""".stripMargin
  }
}
