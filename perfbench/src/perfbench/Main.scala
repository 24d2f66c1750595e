package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus

/** The benchmark's JVM side. `run.py` builds it and calls
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  * --digests FILE`; it writes `DIR/result.json`.
  *
  * One session on `local[cores]`, one closed-loop client: each op starts
  * after the previous one and its checks have finished. Set-up (session
  * start, the fixed corpus, the seeded inputs three times, and the
  * workload's warm-up iterations) is timed as `setup_s`; then iterations run
  * until `--seconds` have passed, at least one. A traced run registers
  * [[Tracer]] for the whole window; its `trace.iter_s` against the untraced
  * run's `iter_s` on the same seed is the tracing overhead. */
object Main {

  private final case class Opts(workload: String, seed: Long, seconds: Double,
                                trace: Boolean, work: Path, digests: Path)

  /** One executed op, with its counts when traced. */
  private final case class Done(op: String, out: Outcome, stats: Option[OpStats])

  /** Engine files whose jobs are reported one by one. */
  val callsiteFiles: Seq[String] =
    Seq("RawIngest", "Ods", "Pipeline", "IdaMart", "Sinks", "TaxaVariacao")

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Session.build(appName = "perfbench",
      extraConf = Map("spark.local.dir" -> o.work.resolve("spark-local").toString))
    spark.sparkContext.setLogLevel("ERROR")
    val startS = (System.currentTimeMillis() - jvmStart) / 1e3
    val sink = new DigestSink(readDigests(o.digests))
    val w: Workload = o.workload match {
      case "etl_paper" => new EtlPaper(spark, o.seed, o.work, sink)
      case "gate_tail" => new GateTail(spark, o.seed, sink)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val failures = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    var failedOps = 0

    def iteration(tracer: Option[Tracer]): Seq[Done] = {
      val done = w.ops.map { op =>
        val stats = tracer.map { t =>
          val st = new OpStats(op)
          val key = s"${t.ops.size}:$op"
          t.ops.put(key, st)
          PerfbenchBus.drain(spark.sparkContext)
          t.current = st
          spark.sparkContext.setLocalProperty(Tracer.OpKey, key)
          st
        }
        val out =
          try w.run(op, tracer.isDefined)
          catch { case NonFatal(e) => Outcome(Double.NaN, Seq(s"$op: $e")) }
        tracer.foreach { t =>
          PerfbenchBus.drain(spark.sparkContext)
          t.current = null
          spark.sparkContext.setLocalProperty(Tracer.OpKey, null)
        }
        attempted += 1
        System.err.println(f"[perfbench] $op ${out.seconds}%.3f s")
        if (out.failures.nonEmpty || out.seconds.isNaN) {
          failedOps += 1
          failures ++= out.failures
          out.failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
        }
        Done(op, out, stats)
      }
      w.endIteration()
      done
    }

    def window(seconds: Double, tracer: Option[Tracer]): Seq[Seq[Done]] = {
      val end = System.nanoTime() + (seconds * 1e9).toLong
      val its = mutable.ArrayBuffer(iteration(tracer))
      while (System.nanoTime() < end) its += iteration(tracer)
      its.toSeq
    }

    val (_, corpusS) = Workload.timed(w.corpus(o.work.resolve("corpus")))
    val gens = (0 until 3).map { k =>
      val dir = o.work.resolve(s"inputs-$k")
      (dir, Workload.timed(w.generate(dir))._2)
    }
    gens.init.foreach { case (d, _) => Workload.deleteRec(d) }
    w.useInputs(o.work.resolve("corpus"), gens.last._1)
    val genS = Stats.median(gens.map(_._2))
    val (_, warmS) = Workload.timed((0 until w.warmups).foreach(_ => iteration(None)))
    val setupS = startS + corpusS + genS + warmS
    System.err.println(f"[perfbench] setup: session $startS%.2f s, corpus $corpusS%.2f s, " +
      f"seeded inputs $genS%.2f s (median of 3), warm-up $warmS%.2f s")

    val report = mutable.ArrayBuffer.empty[(String, Double, String, String)]
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val its = window(o.seconds, None)
        val iterS = its.map(_.map(_.out.seconds).sum)
        report ++= opReport(o.workload, its)
        report += (("peak_rss_mb", peakRssMb(), "MB", "resident set high-water mark"))
        Seq(("setup_s", setupS, "s"), ("iter_s", Stats.median(iterS), "s"))
      } else {
        val tracer = new Tracer(w.entryFile)
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        val traced = try window(o.seconds, Some(tracer)) finally {
          PerfbenchBus.drain(spark.sparkContext)
          spark.listenerManager.unregister(tracer)
          spark.sparkContext.removeSparkListener(tracer)
        }
        val layers = traced.map(layerMetrics(_, graft.Session.defaultCpus))
        layers.head.keys.toSeq.sorted.map { k =>
          (k, Stats.median(layers.map(_(k))), unitOf(k))
        } :+ (("trace.iter_s", Stats.median(traced.map(_.map(_.out.seconds).sum)), "s"))
      }
    val bad = metrics.collect { case (k, v, _) if v.isNaN || v.isInfinite => k }
    if (bad.nonEmpty) failures += s"metrics without a value: ${bad.mkString(", ")}"
    report += (("failed_op_ratio", failedOps.toDouble / attempted, "ratio",
      s"$failedOps of $attempted ops"))
    val correct = failures.isEmpty
    writeResult(o.work.resolve("result.json"), correct, attempted, failedOps,
      metrics, report.toSeq, failures.toSeq)
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  /** The workload's per-op figures the end-to-end metrics summarize. */
  private def opReport(workload: String, its: Seq[Seq[Done]])
      : Seq[(String, Double, String, String)] = {
    val byOp = its.flatten.groupBy(_.op)
    def timing(name: String, xs: Seq[Double]): (String, Double, String, String) =
      (name, Stats.median(xs), "s", Stats.describe(xs))
    if (workload == "gate_tail")
      Seq(timing("gate_pass_s", its.map(_.map(_.out.seconds).sum))) ++
        GateTail.gates.map(g => timing(s"gate.$g.s", byOp(g).map(_.out.seconds)))
    else {
      val loads = byOp("load")
      val loadS = Stats.median(loads.map(_.out.seconds))
      val loaded = loads.head.out.figures("loaded")
      Seq(timing("load_s", loads.map(_.out.seconds)),
        timing("replay_s", byOp("replay").map(_.out.seconds)),
        timing("query_s", byOp("query").map(_.out.seconds)),
        ("load_records_per_s", loaded / loadS, "1/s", f"$loaded%.0f records loaded per load"),
        ("store_bytes_per_record", loads.head.out.figures("store_bytes") / loaded, "B",
          f"${loads.head.out.figures("store_files")}%.0f parquet files"))
    }
  }

  /** Per-layer figures of one traced iteration. */
  private def layerMetrics(it: Seq[Done], cores: Int): Map[String, Double] = {
    val sts = it.flatMap(_.stats)
    def sum(f: OpStats => Double): Double = sts.map(f).sum
    def fig(op: String, k: String): Double =
      it.filter(_.op == op).flatMap(_.out.figures.get(k)).sum
    def figAll(k: String): Double = it.flatMap(_.out.figures.get(k)).sum
    def opS(op: String): Double = it.filter(_.op == op).map(_.out.seconds).sum
    val wall = it.map(_.out.seconds).sum
    val cpu = sum(_.cpuNs) / 1e9
    val fileJobs = (f: String) => sum(_.fileJobs(f).toDouble)
    val gates = GateTail.gates.flatMap { g =>
      val d = it.filter(_.op == g)
      Seq(s"gate.$g.s" -> d.map(_.out.seconds).sum,
        s"gate.$g.jobs" -> d.flatMap(_.stats).map(_.jobs.toDouble).sum,
        s"gate.$g.task_cpu_s" -> d.flatMap(_.stats).map(_.cpuNs / 1e9).sum)
    }
    val files = callsiteFiles.flatMap { f =>
      Seq(s"callsite.$f.jobs" -> fileJobs(f),
        s"callsite.$f.job_s" -> sum(_.fileJobMs(f).toDouble) / 1e3)
    }
    def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
    (Seq(
      "spark.jobs" -> sum(_.jobs.toDouble),
      "spark.stages" -> sum(_.stages.toDouble),
      "spark.tasks" -> sum(_.tasks.toDouble),
      "spark.sql_execs" -> sum(_.sqlExecs.toDouble),
      "spark.planning_s" -> sum(_.planningMs.toDouble) / 1e3,
      "spark.driver_idle_s" -> it.map(d => d.stats.get.idleMs(d.out.seconds * 1e3)).sum / 1e3,
      "spark.task_cpu_s" -> cpu,
      "spark.task_run_s" -> sum(_.runMs.toDouble) / 1e3,
      "spark.cpu_util" -> ratio(cpu, wall * cores),
      "spark.shuffle_read_mb" -> sum(_.shuffleRead.toDouble) / 1e6,
      "spark.shuffle_write_mb" -> sum(_.shuffleWrite.toDouble) / 1e6,
      "spark.spill_mb" -> sum(_.spill.toDouble) / 1e6,
      "spark.gc_s" -> sum(_.gcMs.toDouble) / 1e3,
      "sources.discover_s" -> figAll("discover_s"),
      "sources.extract_s" -> figAll("extract_s"),
      "sources.extract_jobs" -> (fileJobs("RawIngest") + fileJobs("Ods")),
      "sources.store_files" -> fig("load", "store_files"),
      "sources.store_mb" -> fig("load", "store_bytes") / 1e6,
      "plans.transformed_per_extracted" ->
        ratio(fig("load", "transformed"), fig("load", "extracted")),
      "plans.loaded_per_transformed" ->
        ratio(fig("load", "loaded"), fig("load", "transformed")),
      "op.load_s" -> opS("load"),
      "op.replay_s" -> opS("replay"),
      "op.query_s" -> opS("query"),
      "op.gate_pass_s" -> GateTail.gates.map(opS).sum) ++ files ++ gates).toMap
  }

  private def unitOf(k: String): String =
    if (k.endsWith("_s") || k.endsWith(".s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k == "spark.cpu_util" || k.startsWith("plans.")) "ratio"
    else "count"

  /** Peak resident set of this process (Linux `VmHWM`). */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def readDigests(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else """"([\w.]+)"\s*:\s*"([^"]*)"""".r
      .findAllMatchIn(new String(Files.readAllBytes(p), UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap

  private def json(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  private def writeResult(path: Path, correct: Boolean, attempted: Int, failed: Int,
                          metrics: Seq[(String, Double, String)],
                          report: Seq[(String, Double, String, String)],
                          failures: Seq[String]): Unit = {
    val m = metrics.map { case (k, v, u) =>
      s"${json(k)}:{\"value\":${num(v)},\"unit\":${json(u)}}" }.mkString("{", ",", "}")
    val r = report.map { case (k, v, u, n) =>
      s"{\"name\":${json(k)},\"value\":${num(v)},\"unit\":${json(u)},\"note\":${json(n)}}"
    }.mkString("[", ",", "]")
    val f = failures.map(json).mkString("[", ",", "]")
    Files.write(path, (s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":$m,"report":$r,"failures":$f}""").getBytes(UTF_8))
  }

  private def parse(argv: Array[String]): Opts = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", Paths.get(req("work")), Paths.get(req("digests")))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Sample count, and the highest percentile with at least ten samples
    * above it. */
  def describe(xs: Seq[Double]): String = {
    val s = xs.filterNot(_.isNaN).sorted
    val tail = Seq(0.999, 0.99, 0.9).find(p => s.size * (1 - p) >= 10)
    tail match {
      case Some(p) =>
        val v = s(math.min(s.size - 1, math.ceil(p * s.size).toInt - 1))
        f"n=${s.size}, p${p * 100}%.1f=$v%.4f s"
      case None => s"n=${s.size}, median only (fewer than 20 samples)"
    }
  }
}
