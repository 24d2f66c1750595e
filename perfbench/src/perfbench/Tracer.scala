package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts of one execution of op `op`, filled by [[Tracer]]. */
final class OpStats(val op: String) {
  var jobs, stages, tasks, sqlExecs = 0L
  var planningMs, cpuNs, runMs, gcMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val fileJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val fileJobMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  /** Milliseconds of `wallMs` during which no job of this op was running. */
  def idleMs(wallMs: Double): Double = {
    var busy = 0L
    var end = Long.MinValue
    jobSpans.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { busy += e - math.max(s, end); end = e }
    }
    math.max(0.0, wallMs - busy)
  }
}

/** Listener pair the traced run registers on the session. Jobs belong to the
  * op named by the `perfbench.op` local property the benchmark sets before
  * each op (inherited by broadcast and streaming threads); stages and tasks
  * belong to their job's op. Query-execution events carry no properties, so
  * they go to `current`, which the benchmark switches only after draining the
  * listener bus.
  *
  * A job is charged by file name to the innermost engine (`graft.*`) frame
  * of its call site, or, for jobs that adaptive execution starts from its
  * own threads, of its SQL execution's call site; jobs with no engine frame
  * (the benchmark's sink over a returned plan) go to the op's entry file. */
final class Tracer(defaultFile: String => String)
    extends SparkListener with QueryExecutionListener {

  val ops = new java.util.concurrent.ConcurrentHashMap[String, OpStats]()
  @volatile var current: OpStats = _

  private val jobOwner = mutable.Map.empty[Int, (OpStats, String, Long)]
  private val stageOwner = mutable.Map.empty[Int, OpStats]
  private val execFile = mutable.Map.empty[String, String]

  private val frame = """^\s*graft\.[\w.$]+\((\w+)\.scala:\d+\)""".r

  /** File of the innermost engine frame of a long-form call site. */
  private def engineFile(callSite: String): Option[String] =
    callSite.split('\n').iterator.flatMap(l => frame.findFirstMatchIn(l.trim))
      .map(_.group(1)).nextOption()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Tracer.OpKey)))
    op.flatMap(k => Option(ops.get(k))).orElse(Option(current)).foreach { st =>
      st.jobs += 1
      val own = if (e.stageInfos.isEmpty) None
        else engineFile(e.stageInfos.maxBy(_.stageId).details)
      val file = own
        .orElse(props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(execFile.get))
        .getOrElse(defaultFile(st.op))
      jobOwner(e.jobId) = (st, file, e.time)
      e.stageIds.foreach(stageOwner(_) = st)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOwner.remove(e.jobId).foreach { case (st, file, start) =>
      st.jobSpans += ((start, e.time))
      st.fileJobs(file) += 1
      st.fileJobMs(file) += e.time - start
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOwner.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOwner.get(e.stageId).foreach { st =>
      st.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        st.cpuNs += m.executorCpuTime
        st.runMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      Option(current).foreach(_.sqlExecs += 1)
      engineFile(s.details).foreach(execFile(s.executionId.toString) = _)
    }
    case _ => ()
  }

  private def planned(qe: QueryExecution): Unit = synchronized {
    Option(current).foreach(_.planningMs +=
      qe.tracker.phases.values.map(_.durationMs).sum)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)
}

object Tracer {
  val OpKey = "perfbench.op"
}
