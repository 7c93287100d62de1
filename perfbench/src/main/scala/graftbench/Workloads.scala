package graftbench

import scala.collection.immutable.ListMap

/** The benchmark's workloads: `SparkEntry.queries` keys in run order, each
  * with the module that owns its entry point. Why each workload exists is
  * recorded in BENCHMARK.json and perfbench/README.md. */
object Workloads {
  val modules: Seq[String] = Seq("operators", "dedup", "text", "ann", "streaming")

  val all: ListMap[String, Seq[(String, String)]] = ListMap(
    // the reference's own surface: a gold table, event sessions and a
    // streaming replay; execution, shuffles and per-job cost, no ANN,
    // dedup or text memo
    "medallion" -> Seq(
      "rfm_segments" -> "operators",
      "events_sessions" -> "operators",
      "streaming_funnel_replay" -> "streaming"),
    // LLM-data read path: native kernels and the in-process IVF fit memo
    "corpus_prep" -> Seq(
      "dedup_simhash" -> "dedup",
      "bpe_encode" -> "text",
      "ann_ivf" -> "ann"))

  /** Every query of every workload, in a fixed order (per-query metrics are
    * reported for all of them, 0 where a workload does not run one). */
  def allQueries: Seq[String] = all.values.flatten.map(_._1).toSeq.distinct
}
