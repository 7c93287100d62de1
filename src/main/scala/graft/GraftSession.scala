package graft

import org.apache.spark.sql.SparkSession

/** One-call session setup for library users: the recommended scale configs
  * (AQE with coalesce + skew handling), a codegen cache sized to graft's
  * working set, and every graft custom function registered. Cluster
  * deployments can instead ship
  * `spark.sql.extensions=graft.functions.GraftExtensions` in spark-defaults
  * (plus `spark.sql.codegen.cache.maxEntries`, which an extension cannot
  * set: see `CodegenCacheEntries`).
  */
object GraftSession {

  /** Bound on Spark's JVM-wide cache of compiled whole-stage-codegen
    * classes (`spark.sql.codegen.cache.maxEntries`, Spark default 100).
    *
    * Derivation: one cold pass over all 177 oracle paths (sf0.01,
    * local[4]) fills 2,703 entries, 3,277 with the stage id in class names
    * (an entry is a class per class loader: the planning thread's compile
    * and the task threads' compile of one source are two); one
    * medallion pass alone compiles 155 and one corpus_prep pass 110. At the
    * default the LRU cycles, so a repeated pass recompiles nearly every
    * class it ran a moment earlier: the warm 177-path pass made 5,037
    * Janino compiles (57.0 s of a 255 s pass) against 11 (0.2 s of 186 s)
    * at this bound, which covers even the 3,277 with 25% headroom.
    *
    * Cost: about 34 KB of retained heap per entry (the compiled class and
    * its source key). Heap retained after one cold 177-path pass rose from
    * 155 MB to 247 MB; a benchmark workload's rose by about 1.2 MB.
    *
    * Caveat: the conf is static and is read once per JVM, when Spark's
    * `CodeGenerator` first initializes. A session built in the same JVM
    * before any GraftSession pins Spark's default for the life of the JVM,
    * and extension-only deployments must set the key in spark-defaults.
    * Callers can override the value on the returned builder.
    * `plans/codegen_cache.json` holds the per-path census. */
  private[graft] val CodegenCacheEntries = 4096

  def builder(appName: String = "graft", master: String = "local[*]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      // keep the whole-stage stage id out of the generated source, so a plan
      // whose stages are numbered in another order still hits the cache
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Recommended config for STATE-HEAVY streaming (sessionization over wide
    * key spaces, stream-stream interval joins): the RocksDB state store
    * provider keeps operator state in native memory/disk instead of the
    * default provider's in-heap map, so executor heap no longer bounds key
    * cardinality — at 100 TB / millions of live sessions the default
    * provider OOMs long before RocksDB breaks a sweat. Changelog
    * checkpointing ships per-batch deltas to the checkpoint location
    * instead of full state snapshots. Both are plain runtime SQL confs: a
    * deployment can equally set them per-session (`spark.conf.set`) before
    * starting the query — RocksDbStreamingSpec pins provider parity on the
    * sessionization and join operators. */
  def streamingBuilder(appName: String = "graft", master: String = "local[*]",
                       shufflePartitions: Int = 32): SparkSession.Builder =
    builder(appName, master, shufflePartitions)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")

  /** getOrCreate + register `array_cosine` and `simhash64` (the
    * parameterized expressions — srp_buckets_*, minhash_sig_* — register
    * themselves on first use with their config baked in). */
  def create(appName: String = "graft", master: String = "local[*]",
             shufflePartitions: Int = 32): SparkSession = {
    val spark = builder(appName, master, shufflePartitions).getOrCreate()
    graft.functions.VectorFunctions.register(spark)
    graft.functions.SimHash64.register(spark)
    graft.functions.TextKernels.register(spark)
    spark
  }
}
