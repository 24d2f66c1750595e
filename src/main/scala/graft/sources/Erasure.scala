package graft.sources

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Right-to-be-forgotten over a partitioned parquet store — the GDPR/LGPD
  * erasure path every retained training corpus eventually needs. A naive
  * full-store rewrite costs one pass over 100 TB per request; keyed
  * erasure must instead rewrite ONLY the partitions that can contain the
  * subject's rows (the caller knows the key→partition mapping — here the
  * same hash/mod rule that laid the store out).
  *
  * Mechanics:
  *  1. read JUST the affected partitions (partition pruning — the scan
  *     never touches innocent directories),
  *  2. filter to survivors and materialize them at a [[graft.Seam]] (a
  *     parquet path cannot be overwritten while a live plan still reads
  *     it — the checkpoint breaks the file lineage the same way a Delta
  *     DELETE stages its rewrite),
  *  3. dynamic-partition-overwrite the survivors back (untouched
  *     partitions keep their original FILES — byte-identical, not
  *     rewritten — which ErasureSpec asserts by listing),
  *  4. explicitly drop any affected partition left with ZERO survivors:
  *     dynamic overwrite only replaces partitions it writes, so an
  *     emptied partition would otherwise silently KEEP the erased data —
  *     the correctness edge a naive implementation misses.
  *
  * The keep predicate must be null-safe (`isin` on a NULL key yields
  * NULL, and a bare NOT would erase every null-keyed row). */
object Erasure {

  /** Erase rows from `store` (partitioned by `partCol`): within
    * `affectedPartitions`, keep only rows satisfying `keep`. Returns the
    * partition values whose directories were dropped outright (emptied by
    * the erasure). */
  def eraseFromStore(spark: SparkSession, store: String, partCol: String,
                     affectedPartitions: Seq[Any],
                     keep: Column): Seq[String] = {
    require(affectedPartitions.nonEmpty, "eraseFromStore: no partitions")
    val affected = spark.read.parquet(store)
      .filter(col(partCol).isin(affectedPartitions: _*))
    val survivors = graft.Seam.cut(affected.filter(keep))
    val survivingParts = survivors.select(col(partCol)).distinct()
      .collect().map(_.get(0)).toSet
    survivors.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol).parquet(store)
    // release the staged erasure blocks once the rewrite is committed
    graft.Seam.release(survivors)
    val emptied = affectedPartitions.filterNot(survivingParts.contains)
    emptied.map { v =>
      val dirName = s"$partCol=$v"
      val dir = java.nio.file.Paths.get(store, dirName)
      if (java.nio.file.Files.exists(dir)) {
        val s = java.nio.file.Files.walk(dir)
        try s.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.deleteIfExists(p))
        finally s.close()
      }
      dirName
    }
  }
}
