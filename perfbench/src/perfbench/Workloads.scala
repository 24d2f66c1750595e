package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Result of one op: its timed seconds, the check failures found after it,
  * and op-specific figures for the report. */
final case class Outcome(seconds: Double, failures: Seq[String],
                         figures: Map[String, Double] = Map.empty)

/** One workload: inputs, the ops of one closed-loop iteration, and their
  * checks. Ops time only their call into the engine; checks run after. */
trait Workload {
  /** Write the fixed tables the queries read. */
  def corpus(dir: Path): Unit
  /** Write the inputs drawn from the run's seed. */
  def generate(dir: Path): Unit
  def useInputs(corpus: Path, inputs: Path): Unit
  /** Untimed iterations before measuring. */
  def warmups: Int
  def ops: Seq[String]
  /** The engine file an op enters through, for jobs started by the
    * benchmark's own sink. */
  def entryFile(op: String): String
  def run(op: String, traced: Boolean): Outcome
  def endIteration(): Unit
}

object Workload {
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def deleteRec(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(q => Files.deleteIfExists(q))
      finally s.close()
    }

  /** `graft.Bench`'s isolation between gates: drop cached blocks, unload
    * state stores of finished streams, and collect so the context cleaner
    * frees shuffle files. */
  def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    System.gc()
  }
}

/** Runs a query plan to a noop sink (every operator executes, nothing is
  * collected) and returns an order-independent digest of its rows: the row
  * count and the sum of the rows' 32-bit xxhash64 values, gathered by an
  * `observe` node on the same execution. */
final class DigestSink(digests: Map[String, String]) {

  def run(df: => DataFrame): (String, Double) = {
    val obs = Observation()
    val (_, s) = Workload.timed {
      val plan = df
      val cols = plan.columns.map(c => col(s"`$c`"))
      plan.observe(obs, count(lit(1)).as("n"),
          coalesce(sum(xxhash64(cols: _*).bitwiseAND(lit(0xffffffffL))), lit(0L)).as("h"))
        .write.format("noop").mode("overwrite").save()
    }
    val m = obs.get
    (s"${m("n")}:${m("h")}", s)
  }

  /** A mismatch names the digest seen, which is how `digests.json` is
    * filled when the corpus changes. */
  def check(name: String, digest: String): Seq[String] =
    digests.get(name) match {
      case Some(d) if d == digest => Nil
      case Some(d) => Seq(s"$name: digest $digest, expected $d")
      case None => Seq(s"$name: digest $digest, none expected")
    }
}

/** The reference's own grain: load one raw batch into a fresh store, replay
  * it into the same store, then run the flagship query. */
final class EtlPaper(spark: SparkSession, seed: Long, work: Path,
                     sink: DigestSink) extends Workload {
  private val cfg = graft.model.EngineConfig()
  private var raw: Path = _
  private var corpusDir: Path = _
  private var expected: RawBatch.Expected = _
  private var store: Path = _
  private var iteration = 0

  def corpus(dir: Path): Unit = Corpus.writeFlagship(spark, dir)

  def generate(dir: Path): Unit = expected = RawBatch.write(dir, seed)

  def useInputs(corpus: Path, inputs: Path): Unit = {
    corpusDir = corpus
    raw = inputs
    System.err.println(s"[perfbench] etl_paper batch: ${expected.resources} sheets, " +
      s"${expected.cells} cells, ${expected.extracted} rows, " +
      s"${expected.transformed} records, ${expected.loaded} distinct")
  }

  /** None: the pipeline is a batch job that runs in a fresh process per
    * batch, so its users pay the warm-up every time and the measured
    * iteration is the process's first. */
  val warmups = 0

  val ops: Seq[String] = Seq("load", "replay", "query")

  def entryFile(op: String): String = if (op == "query") "TaxaVariacao" else "Pipeline"

  /** `Pipeline.lifecycle`, or in a traced run the same three steps called
    * one by one so the sources layer can be timed. */
  private def lifecycle(traced: Boolean): (graft.plans.Pipeline.RunStats, Map[String, Double]) =
    if (!traced) (graft.plans.Pipeline.lifecycle(spark, raw.toString, cfg, store.toString), Map.empty)
    else {
      val (resources, discover) = Workload.timed(graft.sources.Catalog.discover(raw.toString, cfg))
      val (wides, extract) = Workload.timed(resources.map { r =>
        r.formato match {
          case "ODS" => graft.sources.Ods.readIdaExport(spark, r.url,
            graft.sources.Catalog.mappedSheet(r.servico))
          case _ => graft.sources.RawIngest.readIdaExport(spark,
            graft.sources.Catalog.resolveSheet(r))
        }
      })
      (graft.plans.Pipeline.run(spark, wides, store.toString),
        Map("discover_s" -> discover, "extract_s" -> extract))
    }

  def run(op: String, traced: Boolean): Outcome = op match {
    case "load" =>
      iteration += 1
      store = work.resolve(s"store-$iteration")
      val ((st, phases), s) = Workload.timed(lifecycle(traced))
      val (files, bytes) = storeSize()
      Outcome(s, checkStats("load", st, expected.loaded),
        phases ++ Map("loaded" -> st.loadedNew.toDouble,
          "extracted" -> st.extracted.toDouble, "transformed" -> st.transformed.toDouble,
          "store_files" -> files, "store_bytes" -> bytes))
    case "replay" =>
      val ((st, phases), s) = Workload.timed(lifecycle(traced))
      Outcome(s, checkStats("replay", st, 0L) ++ checkStore(), phases)
    case "query" =>
      val (d, s) = sink.run(graft.plans.TaxaVariacao(spark, corpusDir.toString))
      Outcome(s, sink.check("flagship_taxa_variacao", d))
  }

  private def checkStats(op: String, st: graft.plans.Pipeline.RunStats,
                         loaded: Long): Seq[String] = {
    val want = Seq("resources" -> (st.resources.toLong, expected.resources.toLong),
      "extracted" -> (st.extracted, expected.extracted),
      "transformed" -> (st.transformed, expected.transformed),
      "loadedNew" -> (st.loadedNew, loaded))
    st.errors.map(e => s"$op: error $e") ++ want.collect {
      case (k, (got, exp)) if got != exp => s"$op: $k $got, expected $exp"
    }
  }

  /** The store holds exactly the batch's distinct records. */
  private def checkStore(): Seq[String] = {
    val hashes = spark.read.parquet(store.toString).select("hash_registro")
      .collect().map(_.getString(0))
    val got = (hashes.length.toLong, RawBatch.digest(hashes))
    if (got == (expected.loaded, expected.digest)) Nil
    else Seq(s"store: ${got._1} rows digest ${got._2}, " +
      s"expected ${expected.loaded} rows digest ${expected.digest}")
  }

  private def storeSize(): (Double, Double) = {
    val s = Files.walk(store)
    try {
      val parts = s.filter(p => p.getFileName.toString.endsWith(".parquet")).toArray
        .map(_.asInstanceOf[Path])
      (parts.length.toDouble, parts.map(p => Files.size(p)).sum.toDouble)
    } finally s.close()
  }

  def endIteration(): Unit = {
    Workload.deleteRec(store)
    Workload.cleanup(spark)
  }
}

/** The heavy tail of the operator surface: one pass over the gates that
  * dominate `graft.Bench`, in an order drawn from the seed. */
final class GateTail(spark: SparkSession, seed: Long, sink: DigestSink)
    extends Workload {
  private var corpusDir: Path = _

  def corpus(dir: Path): Unit = Corpus.writeGateTables(spark, dir)

  /** The seed only orders the gates. */
  def generate(dir: Path): Unit = ()

  def useInputs(corpus: Path, inputs: Path): Unit = corpusDir = corpus

  /** Gates are measured warm, as `graft.Bench` measures them. */
  val warmups = 1

  val ops: Seq[String] = new scala.util.Random(seed).shuffle(GateTail.gates)

  def entryFile(op: String): String = "gate"

  def run(op: String, traced: Boolean): Outcome = {
    val (d, s) = sink.run(graft.SparkEntry.queries(op)(spark, corpusDir.toString))
    val out = Outcome(s, sink.check(op, d))
    Workload.cleanup(spark)
    out
  }

  def endIteration(): Unit = ()
}

object GateTail {
  val gates: Seq[String] = Seq("stream_ingest_exactly_once",
    "dedup_minhash_capped", "text_bm25_topk", "a_corr_stats")
}
