package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary learning (Sennrich, Haddow, Birch 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") — learn
  * the top-N merge operations over the corpus, the training half of the
  * tokenizer every LLM data pipeline ships. The reference tokenizes with
  * a FIXED vocabulary (`src/etl` token counting); learning the vocabulary
  * from the corpus is the published complement.
  *
  * The paper's own formulation is the scale story: BPE trains on the
  * WORD-FREQUENCY table, not the raw corpus. One corpus pass aggregates
  * (word → count); the merge loop then runs DRIVER-LOCAL on the collected
  * vocab-bounded (word, n) frame — the sentencepiece/HF-trainer shape
  * (r16, closing the r15 verdict's merge-budget item: the previous
  * Spark-windowed loop cost ~5 jobs PER MERGE, so a real 32k-merge
  * vocabulary would have meant 160k sequential Spark jobs; driver-local
  * it is O(numMerges · Σ|word|) scans of in-memory arrays — measured
  * 1k merges in seconds at the gate vocab, see BASELINE r16). Only the
  * initial word-count groupBy and the encode join-back are distributed,
  * and both are one shuffle each. Contract: the collected frame is
  * |vocabulary|-bounded, NOT corpus-bounded; production trainers prune
  * the long tail (min-frequency) before training — at web scale do that
  * in the words frame before calling learn.
  *
  * Merge semantics, pinned identically on both engines:
  *  - words = the vocab_topk whitespace tokenization (lower, trim,
  *    split \s+), each word's symbols = its characters + a final `</w>`
  *    end-of-word marker (the paper's boundary symbol);
  *  - pair statistics count ALL adjacent symbol pairs, weighted by word
  *    frequency (the paper's get_stats — overlapping occurrences within
  *    a word each count);
  *  - the winning pair maximizes count, ties broken (left ASC, right
  *    ASC) — a pinned total order both engines share;
  *  - merge application is greedy leftmost non-overlapping: within a run
  *    of consecutive matches, every second match merges (the driver loop
  *    scans the PRE-round sequence left-to-right skipping two symbols on
  *    a merge — provably the same rule the oracle's window formulation
  *    applies: a match survives iff its offset in its run is even);
  *  - iterations continue for exactly `numMerges` rounds — the corpus
  *    must support them (the engine throws otherwise, the strict
  *    contract).
  *
  * Output = the learned merge table (merge_rank, lhs, rhs, pair_count) —
  * exact integers and strings, hash-gated against a DuckDB replay of the
  * same 20 unrolled rounds. */
object Bpe {

  val NumMerges = 20

  /** (merge_rank, lhs, rhs, pair_count): the learned BPE merges in
    * priority order. */
  def bpeMerges(spark: SparkSession, dir: String,
                numMerges: Int = NumMerges): DataFrame = {
    // one corpus-scale pass: word frequencies (the vocab_topk tokenizer)
    val words = graft.Tables.documents(spark, dir)
      .withColumn("__tokens", expr("""split(lower(trim(text)), '\\s+')"""))
      // explode_outer: one split per row (TextOps.withTokens)
      .select(explode_outer(col("__tokens")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("n"))
    mergesFromWords(spark, words, numMerges)
  }

  /** The iterative learner over an explicit (word, n) frequency table —
    * the unit-testable core (plant words, check merge mechanics). */
  private[graft] def mergesFromWords(spark: SparkSession, words: DataFrame,
                                     numMerges: Int): DataFrame = {
    val (merges, _) = learn(spark, words, numMerges)
    import spark.implicits._
    merges.toDF("merge_rank", "lhs", "rhs", "pair_count")
      .orderBy("merge_rank")
  }

  /** Word → symbol sequence: CODE POINTS (matching Spark's
    * substring/length and DuckDB's substr/len semantics — UTF-16 chars
    * would split surrogate pairs differently) + the `</w>` marker. */
  private def toSymbols(w: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out += "</w>"
    out.toArray
  }

  /** UTF-8 unsigned-byte lexicographic comparison — the string order both
    * engines sort by (Spark UTF8String, DuckDB binary collation). Java's
    * String.compareTo is UTF-16 code-unit order, which DIVERGES above the
    * BMP, so the winner tie-break must not use it. */
  private def u8Less(x: String, y: String): Boolean = {
    val a = x.getBytes("UTF-8"); val b = y.getBytes("UTF-8")
    val m = math.min(a.length, b.length)
    var i = 0
    while (i < m) {
      val ai = a(i) & 0xff; val bi = b(i) & 0xff
      if (ai != bi) return ai < bi
      i += 1
    }
    a.length < b.length
  }

  /** The learning loop: returns (merge list, encoded-length frame
    * (word, enc_len)). Driver-local over the collected vocab-bounded
    * frequency table — see the object doc's scale contract.
    *
    * r17 (verdict item #9): the loop is INCREMENTAL, the HF-trainer
    * shape. The previous loop recounted every word's pair statistics
    * each round (O(Σ|word|) per merge, the last superlinear term in the
    * 32k-merge budget); this one builds the stats ONCE plus an inverted
    * pair→words index, and per round touches only the words that CONTAIN
    * the merged pair — removing their pre-merge pair counts, applying the
    * merge, adding the post-merge counts, all exact integer deltas (so
    * counts are bit-identical to a recount; BpeSpec pins equality of the
    * full merge table against the gate oracle). Winner selection rides a
    * TreeSet ordered by (count DESC, lhs UTF-8 ASC, rhs UTF-8 ASC) —
    * O(log P) per delta instead of an O(P) max-scan per round. */
  private type Pair = (String, String)

  /** (count DESC, lhs UTF-8 ASC, rhs UTF-8 ASC) — the winner total order. */
  private val winnerOrder: Ordering[(Long, String, String)] =
    new Ordering[(Long, String, String)] {
      def compare(x: (Long, String, String), y: (Long, String, String)): Int = {
        if (x._1 != y._1) return java.lang.Long.compare(y._1, x._1)
        if (x._2 != y._2) return if (u8Less(x._2, y._2)) -1 else 1
        if (x._3 == y._3) 0 else if (u8Less(x._3, y._3)) -1 else 1
      }
    }

  private def learn(spark: SparkSession, words: DataFrame,
                    numMerges: Int): (Seq[(Long, String, String, Long)], DataFrame) = {
    import spark.implicits._
    // the ONE vocab-bounded collect (|vocabulary| rows)
    val vocab = words.select(col("word"), col("n").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val seqs: Array[Array[String]] = vocab.map { case (w, _) => toSymbols(w) }

    // one-time stats + inverted index build (the only full-vocab pass)
    val stats = scala.collection.mutable.HashMap.empty[Pair, Long]
    val pairWords = scala.collection.mutable.HashMap.empty[Pair,
      scala.collection.mutable.HashSet[Int]]
    val ordered = new java.util.TreeSet[(Long, String, String)](winnerOrder)
    def wordPairCounts(sy: Array[String], n: Long)
        : scala.collection.mutable.HashMap[Pair, Long] = {
      val m = scala.collection.mutable.HashMap.empty[Pair, Long]
      var i = 0
      while (i < sy.length - 1) {
        val key = (sy(i), sy(i + 1))
        m.update(key, m.getOrElse(key, 0L) + n)
        i += 1
      }
      m
    }
    def applyDelta(pair: Pair, d: Long): Unit = {
      val old = stats.getOrElse(pair, 0L)
      if (old != 0L) ordered.remove((old, pair._1, pair._2))
      val nu = old + d
      if (nu != 0L) { stats.update(pair, nu); ordered.add((nu, pair._1, pair._2)) }
      else stats.remove(pair)
    }
    var wi = 0
    while (wi < seqs.length) {
      wordPairCounts(seqs(wi), vocab(wi)._2).foreach { case (pair, c) =>
        applyDelta(pair, c)
        pairWords.getOrElseUpdate(pair,
          scala.collection.mutable.HashSet.empty[Int]) += wi
      }
      wi += 1
    }

    val merges = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    while (r <= numMerges) {
      require(!ordered.isEmpty,
        s"bpeMerges: corpus exhausted after ${r - 1} merges (asked for $numMerges)")
      val (bestCnt, a, b) = ordered.first()
      merges += ((r.toLong, a, b, bestCnt))
      // touch ONLY the words containing (a, b): retract their pre-merge
      // pair counts, apply greedy leftmost non-overlapping (a, b) → ab
      // (scan the PRE-round sequence, skip 2 on a merge — identical to
      // the oracle's even-offset-in-run window rule), re-add post-merge
      val affected = pairWords.getOrElse((a, b),
        scala.collection.mutable.HashSet.empty[Int]).toArray
      java.util.Arrays.sort(affected) // determinism of nothing but debug order
      var k = 0
      while (k < affected.length) {
        val w = affected(k)
        val sy = seqs(w); val n = vocab(w)._2
        val before = wordPairCounts(sy, n)
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var i = 0
        while (i < sy.length) {
          if (i < sy.length - 1 && sy(i) == a && sy(i + 1) == b) {
            out += a + b; i += 2
          } else { out += sy(i); i += 1 }
        }
        val next = out.toArray
        seqs(w) = next
        val after = wordPairCounts(next, n)
        // exact deltas: integer adds commute, so the final counts equal a
        // from-scratch recount bit-for-bit
        before.foreach { case (pair, c) =>
          val na = after.getOrElse(pair, 0L)
          if (na != c) applyDelta(pair, na - c)
          if (na == 0L) pairWords.get(pair).foreach(_ -= w)
        }
        after.foreach { case (pair, c) =>
          if (!before.contains(pair)) {
            applyDelta(pair, c)
            pairWords.getOrElseUpdate(pair,
              scala.collection.mutable.HashSet.empty[Int]) += w
          }
        }
        k += 1
      }
      r += 1
    }
    val encLen = vocab.indices
      .map(i => (vocab(i)._1, seqs(i).length.toLong))
      .toDF("word", "enc_len")
    (merges.toSeq, encLen)
  }

  /** BPE ENCODE — the operational other half of merge learning: apply the
    * learned merges and report per-document subword token counts plus the
    * corpus compression they buy. Same scale shape as learning: merges
    * apply on the DISTINCT-WORD frame (vocab-bounded — each word is
    * encoded once however often it occurs), and per-document counts come
    * back through one (doc, word)-grain join against the encoded lengths.
    * Output: (doc_id, n_words, n_chars, n_bpe_tokens, saved_ppm) where
    * saved_ppm = 10^6 − bpe_tokens·10^6 // (chars+words) (chars+words =
    * the pre-merge symbol count incl. the `</w>` markers, floor div). */
  def bpeEncode(spark: SparkSession, dir: String,
                numMerges: Int = NumMerges): DataFrame = {
    val docWords = graft.Tables.documents(spark, dir)
      .withColumn("__tokens", expr("""split(lower(trim(text)), '\\s+')"""))
      // explode_outer: one split per row (TextOps.withTokens)
      .select(col("doc_id"), explode_outer(col("__tokens")).as("word"))
      .filter(length(col("word")) > 0)
    val words = docWords.groupBy("word").agg(count(lit(1)).as("n"))
    // learn + apply on the SAME frame: encodedLengths rides the learner's
    // final symbol state, so encode costs no extra corpus pass
    val (_, encLen) = learn(spark, words, numMerges)
    val perDoc = docWords.join(encLen, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"),
        sum(col("enc_len")).as("n_bpe_tokens"))
    graft.Tables.documents(spark, dir).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_chars"), lit(0L)).as("n_chars"),
        coalesce(col("n_bpe_tokens"), lit(0L)).as("n_bpe_tokens"))
      .withColumn("saved_ppm",
        when(col("n_chars") + col("n_words") > 0,
          lit(1000000L) - expr("(n_bpe_tokens * 1000000) div (n_chars + n_words)"))
          .otherwise(0L))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[bpeEncode]]: the same unrolled learning rounds,
    * then word-encoded lengths off the final symbol state and the
    * (doc, word) join-back. */
  def bpeEncodeOracle(numMerges: Int = NumMerges): String =
    learnCtes(numMerges) + s""",
      |enc AS MATERIALIZED (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS enc_len FROM s$numMerges GROUP BY 1
      |), dw AS (
      |  SELECT doc_id, t.tok AS word
      |  FROM documents, UNNEST(string_split_regex(lower(trim(text)), '\\s+')) AS t(tok)
      |  WHERE len(t.tok) > 0
      |), pd AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
      |    CAST(SUM(len(word)) AS BIGINT) AS n_chars,
      |    CAST(SUM(enc_len) AS BIGINT) AS n_bpe_tokens
      |  FROM dw JOIN enc USING (word) GROUP BY 1
      |)
      |SELECT d.doc_id,
      |  COALESCE(pd.n_words, 0) AS n_words,
      |  COALESCE(pd.n_chars, 0) AS n_chars,
      |  COALESCE(pd.n_bpe_tokens, 0) AS n_bpe_tokens,
      |  CASE WHEN COALESCE(pd.n_chars, 0) + COALESCE(pd.n_words, 0) > 0
      |    THEN 1000000 - (COALESCE(pd.n_bpe_tokens, 0) * 1000000)
      |           // (COALESCE(pd.n_chars, 0) + COALESCE(pd.n_words, 0))
      |    ELSE 0 END AS saved_ppm
      |FROM documents d LEFT JOIN pd USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  /** DuckDB oracle: the identical rounds unrolled — per round a weighted
    * pair count, an ORDER-BY-LIMIT-1 winner, and the same five-window
    * greedy application; the merge table unions the winners. */
  def bpeMergesOracle(numMerges: Int = NumMerges): String =
    learnCtes(numMerges) + "\nSELECT * FROM (\n" +
      (1 to numMerges).map(t =>
        s"  SELECT CAST($t AS BIGINT) AS merge_rank, a AS lhs, b AS rhs, CAST(cnt AS BIGINT) AS pair_count FROM t$t")
        .mkString("\n  UNION ALL\n") +
      "\n)\nORDER BY merge_rank"

  /** The unrolled learning-round CTE chain `WITH w0 … s{numMerges}` shared
    * by the merge-table and encode oracles. */
  private def learnCtes(numMerges: Int): String = {
    val b = new StringBuilder
    b ++= """WITH w0 AS MATERIALIZED (
            |  SELECT word, COUNT(*) AS n FROM (
            |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS word
            |    FROM documents)
            |  WHERE len(word) > 0 GROUP BY 1
            |), s0 AS MATERIALIZED (
            |  SELECT word, n, CAST(i AS BIGINT) AS pos,
            |    CASE WHEN i <= len(word) THEN substr(word, CAST(i AS INT), 1) ELSE '</w>' END AS sym
            |  FROM w0, unnest(range(1, len(word) + 2)) AS t(i)
            |)""".stripMargin
    for (t <- 1 to numMerges) {
      val p = t - 1
      b ++= s""",
              |p$t AS MATERIALIZED (
              |  SELECT sym, nxt, SUM(n) AS cnt FROM (
              |    SELECT n, sym, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
              |    FROM s$p)
              |  WHERE nxt IS NOT NULL GROUP BY 1, 2
              |), t$t AS MATERIALIZED (
              |  SELECT sym AS a, nxt AS b, cnt FROM p$t ORDER BY cnt DESC, sym, nxt LIMIT 1
              |), s$t AS MATERIALIZED (
              |  SELECT word, n, idx AS pos,
              |    CASE WHEN kept THEN sym || nxt ELSE sym END AS sym
              |  FROM (
              |    SELECT *, lag(kept) OVER (PARTITION BY word ORDER BY idx) AS dropped
              |    FROM (
              |      SELECT *, m AND ((idx - MIN(CASE WHEN m THEN idx END)
              |          OVER (PARTITION BY word, grp)) % 2 = 0) AS kept
              |      FROM (
              |        SELECT *, CASE WHEN m THEN idx - cum END AS grp
              |        FROM (
              |          SELECT word, n, idx, sym, nxt, m,
              |            SUM(CASE WHEN m THEN 1 ELSE 0 END) OVER
              |              (PARTITION BY word ORDER BY idx ROWS UNBOUNDED PRECEDING) AS cum
              |          FROM (
              |            SELECT word, n,
              |              CAST(row_number() OVER (PARTITION BY word ORDER BY pos) AS BIGINT) AS idx,
              |              sym, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt,
              |              sym = (SELECT a FROM t$t)
              |                AND lead(sym) OVER (PARTITION BY word ORDER BY pos) = (SELECT b FROM t$t) AS m
              |            FROM s$p)
              |        )))
              |  ) WHERE NOT COALESCE(dropped, FALSE)
              |)""".stripMargin
    }
    b.toString
  }
}
