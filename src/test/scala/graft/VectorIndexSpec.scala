package graft

import graft.ann.{Ann, IvfPq, Pq, VectorIndex}
import graft.ann.VectorIndex.Kind
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted-index checks, written once over the three kinds of
  * [[VectorIndex]]. Each family suite registers them for its kind under the
  * names its checks have always carried (AnnSpec and IvfAppendSpec: IVF;
  * IvfPqSpec and IvfPqAppendSpec: IVFADC; PqSpec: PQ). */
object VectorIndexCases {
  final case class Names(persisted: String, ensure: String, drift: String,
                         exactlyOnce: String, frozen: String)

  private val inlineMatch = "the persisted index reproduces the inline path bit-for-bit"

  val names: Map[Kind, Names] = Map(
    Kind.Ivf -> Names(
      "persisted IVF index: warm path is bit-identical to the fit path",
      "ensureIvfIndex rebuilds when the corpus fingerprint mismatches",
      "the direct indexed path fails fast on geometry drift",
      "append is exactly-once: a replayed batchId is a no-op",
      "appending a fit-corpus vector assigns it to the list the fit chose"),
    Kind.IvfAdc -> Names(inlineMatch,
      "ensureIvfPqIndex rebuilds when the corpus fingerprint mismatches",
      "the direct indexed path fails fast on geometry drift",
      "replaying a committed append batch is a no-op (exactly-once)",
      "appended codes share the frozen geometry (valid list and code ranges)"),
    Kind.Pq -> Names(inlineMatch,
      "ensurePqIndex rebuilds when the corpus fingerprint mismatches",
      "the direct indexed path fails fast on a geometry mismatch",
      "appends are exactly-once: a replayed batchId is a no-op",
      "appended codes reproduce the fit's codes under the frozen codebook"))

  /** The fresh-fit driver query of each kind. */
  def inline(kind: Kind, spark: SparkSession, dir: String): DataFrame = kind match {
    case Kind.Ivf => Ann.annIvfTopK(spark, dir)
    case Kind.IvfAdc => IvfPq.annIvfPq(spark, dir)
    case Kind.Pq => Pq.annPq(spark, dir)
  }

  /** Every output row, cos_sim doubles included, as one comparable set. */
  def rowSet(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}

trait VectorIndexBehaviours { this: AnyFunSuite =>
  import VectorIndexCases._

  private def spark = TestSpark.spark
  private def dir = TestSpark.sfDir
  private def emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")

  /** Bit-for-bit parity with the inline fit, fingerprint-driven rebuilds,
    * and fail-fast validation of a drifted or inconsistent index. */
  def indexTests(kind: Kind): Unit = {
    val n = names(kind)

    test(n.persisted) {
      val idx = tmp(s"${kind.tag}_idx")
      VectorIndex.build(spark, emb, idx, kind)
      val inline = rowSet(VectorIndexCases.inline(kind, spark, dir))
      val indexed = rowSet(VectorIndex.topK(spark, dir, idx))
      assert(inline.size == 100 && inline == indexed,
        s"indexed diverged: ${inline.diff(indexed).take(3)} vs ${indexed.diff(inline).take(3)}")
    }

    test(n.ensure) {
      val idx = VectorIndex.ensure(spark, dir, kind)
      // an in-place corpus rewrite that keeps count and max vec_id: only
      // the content digest moves
      val m = VectorIndex.readMeta(spark, idx)
      VectorIndex.writeMeta(spark, idx,
        m.updated("content_digest", (m("content_digest").toLong ^ 1L).toString))
      // the check runs once per process: forget it, as a restart would
      Memo.invalidate(s"${kind.tag}.ensure", idx)
      assert(VectorIndex.ensure(spark, dir, kind) == idx)
      assert(VectorIndex.readMeta(spark, idx) == m, "stale meta served instead of a rebuild")
    }

    test(n.drift) {
      val idx = tmp(s"${kind.tag}_drift")
      VectorIndex.build(spark, emb, idx, kind)
      val m = VectorIndex.readMeta(spark, idx)
      def failsWith(patch: (String, String), what: String): Unit = {
        VectorIndex.writeMeta(spark, idx, m + patch)
        val read = intercept[IllegalArgumentException](VectorIndex.topK(spark, dir, idx))
        assert(read.getMessage.contains(what) && read.getMessage.contains("rebuild"),
          read.getMessage)
        // an append against the drifted index must not write durable rows
        val app = intercept[IllegalArgumentException](
          VectorIndex.append(spark, idx, emb.limit(1), 0L))
        assert(app.getMessage.contains(what), app.getMessage)
      }
      failsWith("dims" -> "65", "different geometry")
      failsWith("n_lists" -> (m("n_lists").toInt + 1).toString, "inconsistent index")
      if (kind.coded) {
        failsWith("sub_spaces" -> "15", "different geometry")
        failsWith("n_codes" -> (m("n_codes").toInt + 7).toString, "inconsistent index")
      }
      failsWith("layout" -> (VectorIndex.Layout - 1).toString, "layout")
      assert(!new java.io.File(s"$idx/appends").exists(), "a drifted append wrote rows")
      // a dir without the meta file (the parquet meta of earlier layouts,
      // or an interrupted build) names the rebuild too
      val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$idx/meta"), true)
      spark.range(1).write.parquet(s"$idx/meta")
      assert(intercept[IllegalArgumentException](VectorIndex.topK(spark, dir, idx))
        .getMessage.contains("rebuild"))
    }
  }

  /** Exactly-once appends, and appends encoded under the frozen geometry. */
  def appendTests(kind: Kind): Unit = {
    val n = names(kind)

    test(n.exactlyOnce) {
      val idx = tmp(s"${kind.tag}_eo")
      VectorIndex.build(spark, emb.filter(col("vec_id") % 5 =!= 4), idx, kind)
      val slice = emb.filter(col("vec_id") % 5 === 4)
      VectorIndex.append(spark, idx, slice, 0L)
      def batch0 = spark.read.parquet(s"$idx/appends/batch=0/rows").count()
      val first = batch0
      // a second delivery of the batchId, even with other content, is skipped
      VectorIndex.append(spark, idx, slice.unionAll(slice), 0L)
      VectorIndex.append(spark, idx, slice.limit(1), 0L)
      assert(first == slice.count() && batch0 == first, "committed batch was rewritten on replay")
    }

    test(n.frozen) {
      val idx = tmp(s"${kind.tag}_frozen")
      VectorIndex.build(spark, emb.filter(col("vec_id") % 5 =!= 4), idx, kind)
      // a slice with fit-corpus and new vectors: each fit-corpus vector
      // must land in the list (and carry the codes) the fit gave it, and
      // every vector in a list and on codewords the frozen geometry has
      val slice = emb.filter(col("vec_id") % 7 === 0)
      VectorIndex.append(spark, idx, slice, 0L)
      def byId(path: String) = spark.read.parquet(path).collect()
        .map(r => r.getAs[Long]("vec_id") -> r).toMap
      val fit = byId(s"$idx/rows")
      val appended = byId(s"$idx/appends/batch=0/rows")
      assert(appended.size == slice.count() && appended.keys.exists(v => !fit.contains(v)))
      appended.foreach { case (v, r) =>
        assert(fit.get(v).forall(_ == r), s"vec $v: fit ${fit.get(v)} != append $r")
      }
      val g = VectorIndex.open(spark, idx)
      val codes = (0 until g.subSpaces).map(m => s"c$m")
      assert(appended.values.forall { r =>
        val l = r.getAs[Long]("list_id")
        l >= 0 && l < g.centers.length &&
          codes.forall(c => r.getAs[Long](c) >= 0 && r.getAs[Long](c) < g.codebook.get.length)
      })
    }
  }
}

/** Cross-kind properties of the one index: the stamped open, and the
  * structural guarantee that each step exists once. */
class VectorIndexSpec extends AnyFunSuite with VectorIndexBehaviours {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir
  import VectorIndexCases._

  appendTests(Kind.Pq)

  test("an index rebuilt by another process at another list count opens fresh") {
    val emb = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val idx = tmp("ivf_stale")
    VectorIndex.build(spark, emb, idx, Kind.Ivf, nLists = 8)
    assert(VectorIndex.open(spark, idx).centers.length == 8)
    // another process rebuilds the dir at 12 lists: its files land under
    // idx without passing through this process' memo
    val other = tmp("ivf_other")
    VectorIndex.build(spark, emb, other, Kind.Ivf, nLists = 12)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(idx))
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(other), new java.io.File(idx))
    val batch = emb.filter(col("vec_id") % 7 === 0)
    VectorIndex.append(spark, idx, batch, 0L)
    VectorIndex.append(spark, other, batch, 0L)
    assert(VectorIndex.open(spark, idx).centers.length == 12)
    assert(rowSet(VectorIndex.topK(spark, dir, idx)) == rowSet(VectorIndex.topK(spark, dir, other)))
  }

  test("one append commit, one meta writer, no standardization artifact") {
    def sources(sub: String) = new java.io.File(s"src/main/scala/graft/$sub").listFiles()
      .filter(_.getName.endsWith(".scala")).map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try f.getName -> src.mkString finally src.close()
      }.toSeq
    val all = sources("ann") ++ sources("streaming")
    val vector = sources("ann") ++ sources("streaming").filter(_._2.contains("VectorIndex"))
    def count(files: Seq[(String, String)], re: String) =
      files.map { case (_, s) => re.r.findAllIn(s).size }.sum
    assert(count(vector, """ExactlyOnce\.commit\(""") == 1,
      "vector-index appends must commit through one writer")
    assert(count(vector, """writeMeta\(""") == 2, "one meta writer, called by the build")
    assert(count(vector, """/meta"\)""") == 0, "a second meta writer")
    assert(count(all, """\b(mu|sigma)\b""") == 0,
      "the raw-space fit has no mu/sigma: z is x as a double")
  }
}
