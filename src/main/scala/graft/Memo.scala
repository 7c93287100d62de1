package graft

import scala.jdk.CollectionConverters._

/** What this JVM remembers across queries, and when it forgets: one
  * access-ordered LRU of [[Bound]] entries, keyed by `(kind, key)`. Every
  * value is plain driver data (arrays, longs, booleans, fitted models) —
  * never a DataFrame, plan or RDD — so an entry pins no executor state.
  *
  * The reuse is within a session: a fit, count or validated index one
  * query computed serves the next. Each call site states why its value
  * may be reused; plan-keyed values ([[PlanKey]]) cannot outlive an
  * in-place rewrite of their inputs, dir-keyed ones are trusted once
  * validated (see `VectorIndex.ensureFresh`). */
object Memo {
  val Bound = 256

  private val store =
    new java.util.LinkedHashMap[(String, Any), AnyRef](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[(String, Any), AnyRef]): Boolean =
        size() > Bound
    }

  /** The value under `(kind, key)`, computing it with `load` on a miss. The
    * lock covers only the map get/put: `load` (usually a Spark job) runs
    * outside it, so concurrent cold misses may both compute and the last
    * put wins — callers memoize only deterministic values. */
  def get[V](kind: String, key: Any)(load: => V): V = {
    val k = (kind, key)
    val hit = store.synchronized(store.get(k))
    if (hit != null) hit.asInstanceOf[V]
    else {
      val v = load
      store.synchronized(store.put(k, v.asInstanceOf[AnyRef]))
      v
    }
  }

  /** The value under `(kind, key)` if one is held; never loads. */
  def peek[V](kind: String, key: Any): Option[V] =
    Option(store.synchronized(store.get((kind, key)))).map(_.asInstanceOf[V])

  /** Forget one entry: a rebuild replaced what it summarizes. */
  def invalidate(kind: String, key: Any): Unit = store.synchronized(store.remove((kind, key)))

  /** Forget everything: the state of a freshly started process. */
  def resetAll(): Unit = store.synchronized(store.clear())

  /** Live entries per kind (for specs). */
  private[graft] def census: Map[String, Int] =
    store.synchronized(store.keySet.asScala.toSeq.groupMapReduce(_._1)(_ => 1)(_ + _))
}
