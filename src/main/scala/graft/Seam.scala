package graft

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.execution.LogicalRDD

/** Materialization seams: the one place that decides how an intermediate
  * frame is materialized, how a convergence probe reads it, and when its
  * blocks are freed. Iterative operators cut their state once per round;
  * dual-consumer stages cut the frame that two subtrees would otherwise
  * each re-derive.
  *
  * A cut is an eager LOCAL checkpoint, for three measured reasons:
  *  - iterative self-referential plans grow analyzer lineage
  *    super-linearly; a cut hands the next round a flat scan node;
  *  - the analyzer's self-join deduplication re-aliases a frame referenced
  *    twice in one query, so a `persist`ed frame can MISS its own cache
  *    entry, where a cut frame is a plain scan of materialized rows;
  *  - `persist` registers in the CacheManager and lives until an explicit
  *    `unpersist`, which an operator returning a lazy plan can never safely
  *    issue, so composed callers would leak one cached frame per call.
  *    Checkpoint blocks are owned by their RDD and are reclaimed by the
  *    ContextCleaner once the returned plan is unreferenced.
  *
  * Local blocks live on the executors that computed them: a lost executor
  * loses its seams. A reliable checkpoint (`setCheckpointDir` +
  * `checkpoint()`) trades a storage write per seam for surviving that, and
  * would be chosen here, in [[cut]], for every seam at once. */
object Seam {

  /** Materialize `df` now and return a frame whose plan is a scan of the
    * materialized rows. */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** [[cut]], plus the 1-row value of the aggregate `probe`s over `df`.
    * The probes ride the checkpoint job through one `Observation`
    * (an eager checkpoint runs as an action, so the observed metrics row
    * is filled by the same job that materializes the frame): a
    * convergence test costs no second job and no second driver round trip
    * per round. The row's fields are named by the probes' aliases. */
  def cut(df: DataFrame, probe: Column, probes: Column*): (DataFrame, Row) = {
    val obs = Observation()
    val ck = df.observe(obs, probe, probes: _*).localCheckpoint(true)
    (ck, Await.result(obs.future, Duration.Inf))
  }

  /** Free the executor blocks of a [[cut]] frame now; a no-op when the
    * frame's plan is not rooted at a checkpoint's `LogicalRDD` (a plain
    * scan, or a projection over a cut). Call it only once nothing lazy
    * still reads the frame. `Dataset.unpersist` covers only CacheManager
    * entries, and the ContextCleaner reclaims checkpoint blocks only after
    * a driver GC notices the dead RDD reference: on a large heap that can
    * be minutes, during which every retired round's blocks keep stealing
    * execution/storage memory from the rounds still running (measured as
    * a 3-5x min-to-max bench spread of the cluster family). */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _ =>
  }
}
