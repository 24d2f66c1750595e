package graft

/** Plan-inspection tool: prints the formatted physical plan of each named
  * query (or all of them) so scan pruning (`PushedFilters`, `ReadSchema`),
  * join strategies (broadcast vs shuffle) and whole-stage-codegen spans can
  * be audited per change. Usage: runMain graft.Explain [sfDir] [name ...]
  *
  * Iterative/seamed operators cut their intermediates at a [[Seam]]: an
  * eager action at DataFrame CONSTRUCTION time, so the final `explain`
  * roots at `Scan ExistingRDD` and hides the subtree that actually does
  * the work. A QueryExecutionListener captures every construction-time
  * execution — each seam is its own executed plan — and the tool prints
  * them after the final plan, labeled, so the dump shows the WHOLE
  * computation. Memoized spool stagings execute once per JVM and land in
  * whichever gate touched them first; they are labeled the same way.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = Session.build(appName = "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val seams = new scala.collection.mutable.ArrayBuffer[(String, String)]
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit =
          seams.synchronized {
            seams += ((funcName, qe.explainString(
              org.apache.spark.sql.execution.FormattedMode)))
          }
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = ()
      })
    names.foreach { name =>
      seams.synchronized(seams.clear())
      println(s"\n================ $name ================")
      val df = SparkEntry.queries(name)(spark, sfDir)
      // drain the async listener bus so construction-time executions are
      // all buffered before we print them (best-effort: the bus has no
      // public flush)
      Thread.sleep(1000)
      val ctSeams = seams.synchronized(seams.toVector)
      df.explain("formatted")
      ctSeams.zipWithIndex.foreach { case ((fn, plan), i) =>
        println(s"\n-------- $name construction-time action ${i + 1} " +
          s"($fn) — checkpoint-seam / spool subtree --------")
        println(plan)
      }
    }
    spark.stop()
  }
}
