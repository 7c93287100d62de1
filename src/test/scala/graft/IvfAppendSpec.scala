package graft

import graft.ann.{Ann, VectorIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IvfAppendSpec extends AnyFunSuite with VectorIndexBehaviours {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sfDir

  appendTests(VectorIndex.Kind.Ivf)

  test("annIvfAppend finds appended vectors and answers appended queries") {
    val res = Ann.annIvfAppend(spark, dir).collect()
    val qs = res.map(_.getAs[Long]("query_id")).toSet
    assert(qs == (0L until 10L).toSet) // queries 4 and 9 are appended ids
    // every query gets a full top-10, ranks contiguous
    res.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.toSeq == (1L to 10L))
    }
    // appended vectors (vec_id % 5 == 4) are reachable as neighbors
    assert(res.exists(_.getAs[Long]("vec_id") % 5 == 4))
  }

  test("uncommitted append dirs are invisible to the reader") {
    val idx = VectorIndexCases.tmp("graft_ivf_append")
    val emb = Tables.embeddings(spark, dir)
    VectorIndex.build(spark, emb.filter(col("vec_id") % 5 =!= 4), idx, VectorIndex.Kind.Ivf)
    VectorIndex.append(spark, idx, emb.filter(col("vec_id") % 10 === 4), 0L)
    val committed = VectorIndexCases.rowSet(VectorIndex.topK(spark, dir, idx))
    // fake a crashed append: data present, no marker
    emb.filter(col("vec_id") % 10 === 9)
      .select(col("vec_id"), lit(0L).as("list_id"))
      .write.mode("overwrite").parquet(s"$idx/appends/batch=1/rows")
    assert(VectorIndexCases.rowSet(VectorIndex.topK(spark, dir, idx)) == committed)
  }
}
