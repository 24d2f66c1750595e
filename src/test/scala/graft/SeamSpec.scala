package org.apache.spark {
  /** Drains the listener bus, so counts taken by a listener are final. */
  object SeamSpecBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft {

  import java.util.concurrent.atomic.AtomicInteger

  import org.apache.spark.SeamSpecBus
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.execution.LogicalRDD
  import org.apache.spark.sql.functions._
  import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
  import org.scalatest.time.SpanSugar._

  /** Guards the one materialization seam: release frees exactly a cut
    * frame's blocks, a probed cut costs no extra job, and no code outside
    * `Seam` checkpoints, releases or observes on its own. */
  class SeamSpec extends SparkSpec with TimeLimits {
    implicit val signaler: Signaler = ThreadSignaler

    private def rddId(df: DataFrame): Int =
      df.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd.id }.get

    private def persisted(id: Int): Boolean =
      spark.sparkContext.getPersistentRDDs.contains(id)

    test("release frees a cut frame's blocks and leaves anything else alone") {
      val cut = Seam.cut(spark.range(100).toDF("id"))
      val id = rddId(cut)
      assert(persisted(id))
      Seam.release(spark.range(10).toDF("id")) // a plain scan
      Seam.release(cut.select(col("id") + 1))  // a projection over the cut
      assert(persisted(id))
      assert(cut.count() == 100)
      Seam.release(cut)
      assert(!persisted(id))
    }

    test("a probed cut returns the probe row and runs as many jobs as a plain cut") {
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      def grouped = spark.range(1000).toDF("id")
        .groupBy((col("id") % 7).as("k")).agg(sum(col("id")).as("s"))
      def jobsOf(run: => Unit): Int = {
        SeamSpecBus.drain(spark.sparkContext)
        jobs.set(0)
        run
        SeamSpecBus.drain(spark.sparkContext)
        jobs.get
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val plain = jobsOf(Seam.cut(grouped))
        var probe: org.apache.spark.sql.Row = null
        val probed = jobsOf {
          probe = Seam.cut(grouped, count(lit(1)).as("n"),
            sum(col("s")).as("total"))._2
        }
        assert(plain >= 1)
        assert(probed == plain)
        assert(probe.getAs[Long]("n") == 7L)
        assert(probe.getAs[Long]("total") == 999L * 1000L / 2)
      } finally spark.sparkContext.removeSparkListener(listener)
    }

    test("a probed cut of a frame that is empty at run time still reports") {
      val ids = spark.range(50).toDF("n")
      val empties = Seq(
        ids.join(spark.range(50).toDF("n"), Seq("n"), "left_anti"),
        // an empty shuffle stage, which AQE propagates through the aggregate
        ids.filter(col("n") < 0).groupBy(col("n")).agg(max(col("n")).as("m"))
          .select(col("n")))
      empties.foreach { empty =>
        val (ck, row) = failAfter(2.minutes) {
          Seam.cut(empty, count(lit(1)).as("n"), sum(col("n")).as("s"))
        }
        assert(ck.isEmpty)
        assert(row.getAs[Long]("n") == 0L)
        assert(row.isNullAt(1))
      }
    }

    test("only Seam checkpoints, reads LogicalRDD or creates an Observation") {
      val root = java.nio.file.Paths.get("src/main/scala")
      val files = java.nio.file.Files.walk(root).iterator()
      val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
      var scanned = 0
      while (files.hasNext) {
        val f = files.next()
        val rel = root.relativize(f).toString
        if (rel.endsWith(".scala") && rel != "graft/Seam.scala") {
          scanned += 1
          val lines = java.nio.file.Files.readAllLines(f).toArray(Array.empty[String])
          lines.zipWithIndex.foreach { case (line, i) =>
            val t = line.trim
            val comment = t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
            val observes = t.contains("Observation()") &&
              rel != "graft/plans/Pipeline.scala"
            if (!comment && (t.contains("localCheckpoint(") ||
                t.contains("LogicalRDD") || observes))
              offenders += s"$rel:${i + 1}: $t"
          }
        }
      }
      assert(scanned > 50, s"scanned only $scanned files under $root")
      assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
    }
  }
}
