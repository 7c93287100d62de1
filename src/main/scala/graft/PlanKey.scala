package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}

/** Non-truncating digest of a DataFrame's analyzed plan plus the files it
  * reads — the key for fit-once/score-many memos ([[Memo]]). The default
  * plan `toString` clips wide plans at spark.sql.debug.maxToStringFields
  * ("... N more fields"), so two different wide projections could collide
  * on the clipped string; semanticHash plus the full-width treeString
  * cannot clip.
  *
  * The plan names a file source by its path, so data rewritten IN PLACE
  * under the same path would keep the plan's key. The digest therefore
  * also hashes (path, length, modification time) of every file each leaf
  * file relation lists: an overwrite changes the listing, so a re-read
  * after it gets a new key, while a re-read of unchanged inputs keeps its
  * key. The listing is the one the analyzed plan already holds, so this
  * costs no filesystem call. Relations that are not file listings (catalog
  * tables with their own file index, local data, checkpoints) contribute
  * their plan alone. */
object PlanKey {
  def digest(df: DataFrame): String = {
    val analyzed = df.queryExecution.analyzed
    val plan = analyzed.canonicalized
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(plan.treeString(verbose = true, addSuffix = false,
      maxFields = Int.MaxValue).getBytes("UTF-8"))
    analyzed.collectWithSubqueries {
      case LogicalRelation(HadoopFsRelation(files: PartitioningAwareFileIndex, _, _, _, _, _),
          _, _, _, _) => files
    }.foreach(_.allFiles().foreach { f =>
      md.update(s"${f.getPath}|${f.getLen}|${f.getModificationTime}\n".getBytes("UTF-8"))
    })
    plan.semanticHash().toString + ":" + md.digest().map("%02x".format(_)).mkString
  }
}
