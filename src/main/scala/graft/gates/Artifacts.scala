package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.{Cluster, Dedup, Multimodal, Similarity}
import graft.plans.IdaMart
import graft.sources.Tables

/** An input some gates read but do not measure — a fixture spool, a
  * trained model, a booted database — built once per (name, sf dir) into
  * the [[Artifacts]] memo. Staging is harness setup (a production pipeline
  * materializes these offline, once), and every build is deterministic, so
  * a gate reads identical data whether the artifact was staged ahead of it
  * or built on its first touch. */
final class Artifact[A](val name: String, build: (SparkSession, String) => A) {
  def key(dir: String): String = s"$dir|$name"
  def apply(s: SparkSession, dir: String): A = Artifacts.memo(key(dir))(build(s, dir))
}

object Artifact {
  def apply[A](name: String)(build: (SparkSession, String) => A): Artifact[A] =
    new Artifact(name, build)
}

/** Every artifact the gates declare, the one memo that holds them, and the
  * scratch-dir helpers the store gates write under. */
object Artifacts {

  /** JVM-scoped scratch root for the storage-lifecycle gates (write-then-
    * read stores, streaming checkpoints, spools). One root per JVM, removed
    * by a shutdown hook; each tag resolves to a DETERMINISTIC subdir that
    * is wiped on reuse. Per-invocation `Files.createTempDirectory` calls
    * here used to leak a fresh copy of each store on EVERY invocation —
    * a full bench sweep invokes each store gate 4x, and repeated sweeps
    * accumulated gigabytes under /tmp with no cleanup. */
  private lazy val scratchRoot: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(p)))
    p
  }
  private def deleteRec(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(q => java.nio.file.Files.deleteIfExists(q))
      finally s.close()
    }
  /** Fresh EMPTY scratch dir at a deterministic per-tag path: same tag ->
    * same path, previous contents removed first (so store gates start from
    * an empty dir and checkpoints are fresh per replay, without leaking). */
  def scratchDir(tag: String): String = {
    val d = scratchRoot.resolve(tag)
    deleteRec(d)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  /** Collision-resistant 64-bit FNV-1a hex of a cache key, for deriving
    * scratch subdirs. `String.hashCode` (32-bit) is NOT enough here: two
    * distinct keys colliding would resolve to the same scratch dir, and
    * `scratchDir`'s wipe-on-reuse would delete the first key's staged data
    * while its memo entry still serves the path — for an index spool that
    * is silently-wrong results, not just a lost file. */
  def fnv64Hex(s: String): String = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL); h *= 0x100000001b3L; i += 1
    }
    java.lang.Long.toHexString(h)
  }

  /** A memo cell, built at most once and outside the map's own locking, so
    * one artifact's build may read another's (the cluster reps read the
    * near-dup pairs) without a recursive map update. A failed build leaves
    * the cell empty for the next touch. */
  private final class Cell(build: () => Any) {
    @volatile private var value: Option[Any] = None
    def get: Any = value.getOrElse(synchronized {
      if (value.isEmpty) value = Some(build())
      value.get
    })
    def built: Boolean = value.isDefined
  }

  /** The one memo of every artifact, keyed `sfDir|artifact name`. Values
    * are paths and plain driver-side values, never cached frames, so they
    * survive Bench's between-query cache/RDD cleanup. */
  private val cells = new java.util.concurrent.ConcurrentHashMap[String, Cell]()

  private[gates] def memo[A](key: String)(build: => A): A =
    cells.computeIfAbsent(key, _ => new Cell(() => build)).get.asInstanceOf[A]

  /** Whether the artifact memoized under `key` has been built. */
  def isStaged(key: String): Boolean = Option(cells.get(key)).exists(_.built)

  /** Build every given artifact for an sf dir, logging each one's time.
    * The bench harness calls this ONCE during warmup, before any timed
    * loop: a first touch landing inside a timed iteration charges a whole
    * staging pipeline to whichever gate happened to run first (the r15
    * verdict's `graph_hits` bimodality hypothesis). Returns the number of
    * artifacts staged. */
  def stage(s: SparkSession, dir: String, artifacts: Seq[Artifact[_]]): Int = {
    artifacts.foreach { a =>
      val t0 = System.nanoTime()
      a(s, dir)
      System.err.println(f"[spool] ${a.name} staged in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    artifacts.size
  }

  /** An artifact that writes into its own fresh scratch dir (named by
    * `tag` and the hash of the full memo key) and returns that dir. */
  private def spool(name: String, tag: String)(
      write: (SparkSession, String, String) => Unit): Artifact[String] =
    Artifact(name) { (s, dir) =>
      val d = scratchDir(s"$tag-${fnv64Hex(s"$dir|$name")}")
      write(s, dir, d)
      d
    }

  /** Stateful-streaming gates keep one state store per shuffle partition,
    * with per-micro-batch commit overhead each; a bounded replay should
    * size that to the replay, not to the continuous-serving default (the
    * count is baked into the query's checkpoint at start, so it is a
    * per-query knob). Measured at sf0.1: the stream-stream join gate
    * dropped 6.7 s → 2.5 s going 32 → 8 state partitions, and a further
    * 3.5 s → 2.2 s going 8 → 4 (per-partition store-commit overhead still
    * dominated the bounded replay). */
  def withStatePartitions[A](s: SparkSession, n: Int)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  // ----- IDA mart and storage inputs

  /** The bounded quarter-batch (`linha_origem % 4 == 0`) of the fact load,
    * in the fact table's column order: the JDBC gates' batch. */
  def quarterBatchFact(s: SparkSession, dir: String): DataFrame =
    IdaMart.fact(
        IdaMart.records(s, dir).filter(col("linha_origem") % 4 === 0))
      .select(col("tempo_key"), col("grupo_key"), col("servico_key"),
        col("variavel_key"), col("valor"), col("arquivo_origem"),
        col("linha_origem"), col("hash_registro"))

  /** An embedded Derby database (shipped with Spark) booted once per sf
    * dir with `ensure`'s tables — boot + DDL is harness setup; each gate
    * call starts from the fresh-table state via TRUNCATE. derby.log and the
    * database live under the session temp root, never the repo. */
  private def derbyDb(name: String, tag: String,
                      ensure: String => Unit): Artifact[String] =
    Artifact(name) { (_, dir) =>
      if (System.getProperty("derby.system.home") == null)
        System.setProperty("derby.system.home",
          System.getProperty("java.io.tmpdir"))
      val u = s"jdbc:derby:${scratchDir(s"$tag-${fnv64Hex(dir)}")}/ida;create=true"
      ensure(u)
      u
    }
  val derbyFactDb: Artifact[String] =
    derbyDb("derby-fact", "derby", graft.sources.JdbcSink.ensureFactTable(_))
  val derbyDimDb: Artifact[String] =
    derbyDb("derby-dim", "derby-dim", graft.sources.JdbcSink.ensureDimGrupoTables(_))
  val derbyStreamDb: Artifact[String] =
    derbyDb("derby-stream", "derby-stream", graft.sources.JdbcSink.ensureFactTable(_))

  /** Staged single-file parquet input for `stream_jdbc_exactly_once` —
    * the fact rows the streaming replay reads. */
  val jdbcStreamFactSpool: Artifact[String] =
    spool("jdbc-stream-fact", "jdbcstream-in") { (s, dir, d) =>
      quarterBatchFact(s, dir).coalesce(1).write.mode("overwrite").parquet(d)
    }

  /** Staged single-file parquet input for `stream_ingest_exactly_once`. */
  val ingestRecordsSpool: Artifact[String] =
    spool("ingest-records", "ingest-in") { (s, dir, d) =>
      IdaMart.records(s, dir).coalesce(1).write.mode("overwrite").parquet(d)
    }

  /** Staged two-batch store (batch B adds a column) for
    * `s_schema_evolution`. */
  val schemaEvoSpool: Artifact[String] =
    spool("schema-evo", "schema-evo") { (s, dir, d) =>
      val docs = Tables.documents(s, dir)
      docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"))
        .coalesce(1).write.mode("overwrite").parquet(s"$d/batch=a")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"), col("lang"))
        .coalesce(1).write.mode("overwrite").parquet(s"$d/batch=b")
    }

  /** Staged bucketed tables for `j_bucketed` (zero-shuffle SMJ layout).
    * Returns the per-dir table-name SUFFIX: the table names are keyed by
    * `fnv64Hex(dir)` like every other spool — fixed global names would let
    * a second sf dir staged in the same session overwrite the tables while
    * the first dir's memo entry still claims "staged", silently serving
    * the wrong dir's data to `j_bucketed` (r16 ADVICE). */
  val bucketedTablesSpool: Artifact[String] =
    Artifact("bucketed-tables") { (s, dir) =>
      val sfx = fnv64Hex(dir)
      Tables.orders(s, dir).write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable(s"graft_orders_b_$sfx")
      Tables.customer(s, dir).write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable(s"graft_customer_b_$sfx")
      sfx
    }

  /** Staged user_id-clustered event files for `s_bloom_file_skip`. */
  val bloomSkipSpool: Artifact[String] =
    spool("bloomskip", "bloomskip") { (s, dir, d) =>
      graft.sources.StatsManifest.writeClustered(
        Tables.events(s, dir).filter(col("event_id").isNotNull),
        d, "user_id", nFiles = 8)
    }

  // ----- streaming inputs

  /** Spool staging for the streaming gates: the events fixture rewritten as
    * ONE parquet file (single deterministic micro-batch under AvailableNow).
    * Staging is harness setup, not part of the streaming operator under
    * test, so Bench iterations and multiple stream queries over the same
    * variant reuse one write. */
  private def eventsSpool(variant: String, doubled: Boolean = false,
                          msTrunc: Boolean = false): Artifact[String] =
    spool(s"events-$variant", s"spool-$variant") { (s, dir, spool) =>
      val ev0 = Tables.events(s, dir)
      val ev1 = if (msTrunc)
        ev0.withColumn("ts", date_trunc("MILLISECOND", col("ts"))) else ev0
      val ev2 = if (doubled) ev1.unionAll(ev1) else ev1
      ev2.coalesce(1).write.mode("overwrite").parquet(spool)
    }
  val eventsTumbleSpool: Artifact[String] = eventsSpool("tumble")
  val eventsSessSpool: Artifact[String] = eventsSpool("sess", msTrunc = true)
  val eventsDedupSpool: Artifact[String] = eventsSpool("dedup", doubled = true)

  /** The four arrival slices of the stream-dedup fixtures, in batch order
    * (the first three are [[streamDedupReplay]]'s; the fourth is the
    * post-retraction batch of the lifecycle gates). `baseMod = Some(m)`
    * restricts the base corpus to `doc_id % m == 0` — the lifecycle gates
    * run on the % 3 subset (oracle-memory rationale at
    * [[graft.functions.SketchOracleSql.streamDedupRetractOracleSql]]). */
  private def streamDedupSlices(s: SparkSession, dir: String,
                                baseMod: Option[Int]): Seq[DataFrame] = {
    val docs0 = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      .filter(col("text").isNotNull)
    val docs = baseMod.fold(docs0)(m =>
      docs0.filter(pmod(col("doc_id"), lit(m)) === 0))
    Seq(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      docs.select((col("doc_id") + 100000).as("doc_id"), col("text")),
      docs.select((col("doc_id") + 200000).as("doc_id"),
          regexp_replace(col("text"), "\\bdata\\b", "info").as("text"))
        .unionByName(docs.select((col("doc_id") + 300000).as("doc_id"),
          regexp_replace(regexp_replace(col("text"), "\\bdata\\b", "info"),
            "\\bthe\\b", "thee").as("text"))),
      docs.select((col("doc_id") + 400000).as("doc_id"), col("text")))
  }

  /** The arrival slices of [[streamDedupSlices]] staged as single-file
    * parquet — input staging: deriving the fixture's arrival files from
    * the documents table is harness setup (a production stream's input
    * FILES simply exist), so bench iterations re-run the replay — the
    * operator under test — against identical bytes instead of re-deriving
    * and re-writing the slices per iteration. */
  private def sliceSpool(name: String, baseMod: Option[Int]): Artifact[String] =
    spool(name, "streamdedup-slices") { (s, dir, d) =>
      streamDedupSlices(s, dir, baseMod).zipWithIndex.foreach {
        case (slice, i) => slice.coalesce(1).write.parquet(s"$d/slice=$i")
      }
    }
  val streamDedupSliceSpool: Artifact[String] =
    sliceSpool("stream-dedup-slices", None)
  val streamDedupSliceSpoolMod3: Artifact[String] =
    sliceSpool("stream-dedup-slices-mod3", Some(3))

  /** Copy staged slice `i`'s parquet part file(s) into a stream source
    * dir under a unique name — the "one file appended per micro-batch"
    * arrival the AvailableNow replay drains. */
  private def stageSliceFile(sliceDir: String, i: Int, src: String): Unit = {
    val from = java.nio.file.Paths.get(s"$sliceDir/slice=$i")
    val files = java.nio.file.Files.list(from)
    try files.forEach { p =>
      val name = p.getFileName.toString
      if (name.endsWith(".parquet") && !name.startsWith("."))
        java.nio.file.Files.copy(p,
          java.nio.file.Paths.get(src, s"slice$i-$name"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally files.close()
  }

  /** The 3-batch streaming near-dup replay
    * ([[graft.streaming.NearDupStream]]): one parquet file appended +
    * one AvailableNow drain per batch — deterministic micro-batch
    * boundaries by construction (the `stream_checkpoint_resume`
    * discipline), no reliance on file-listing order. The slicing is the
    * oracle's ([[graft.functions.SketchOracleSql.streamDedupOracleSql]]):
    * batch 0 = even organic docs, batch 1 = +100000 exact copies of all
    * docs, batch 2 = +200000 perturbed ∪ +300000 doubly-perturbed copies.
    * Returns the store dir. */
  def streamDedupReplay(s: SparkSession, dir: String, root: String): String = {
    val src = s"$root/src"
    val store = s"$root/store"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(src))
    val slices = streamDedupSliceSpool(s, dir)
    (0 until 3).foreach { i =>
      stageSliceFile(slices, i, src)
      withStatePartitions(s, 8) {
        val q = graft.streaming.NearDupStream.start(
          graft.streaming.NearDupStream.readDocs(s, src), store, s"$root/ck")
        q.processAllAvailable(); q.stop()
      }
    }
    store
  }

  /** The [[streamDedupReplay]] store, for the gates that READ the stream's
    * artifacts (log view) without re-running the replay the main gate
    * measures. */
  val streamDedupSpool: Artifact[String] = Artifact("stream-dedup") { (s, dir) =>
    streamDedupReplay(s, dir,
      scratchDir(s"streamdedup-spool-${fnv64Hex(s"$dir|stream-dedup")}"))
  }

  /** PREFIX store of the lifecycle gates: batches 0-2 of the `% 3`-subset
    * slices applied via the SAME [[graft.streaming.NearDupStream.applyBatch]]
    * the stream runs — the production posture (the curated index exists
    * once; admin ops and new batches run against it), so the gates measure
    * their own tail, not a rebuild of the prefix the stream gates already
    * measure. */
  val streamDedupLifecycleSpool: Artifact[String] =
    spool("stream-dedup-prefix", "streamdedup-prefix") { (s, dir, store) =>
      val slices = streamDedupSliceSpoolMod3(s, dir)
      withStatePartitions(s, 8) {
        (0 until 3).foreach { i =>
          graft.streaming.NearDupStream.applyBatch(
            s.read.schema(graft.streaming.NearDupStream.docSchema)
              .parquet(s"$slices/slice=$i"), i.toLong, store)
        }
      }
    }

  // ----- multimodal fixtures

  /** Multimodal fixture staging, shared by the standalone gates and the
    * curate_report images/audio sections — one staging write per
    * (sfDir, kind) regardless of how many gates read the files back. */
  private def mediaSpool(kind: String,
                         write: (DataFrame, String) => Int): Artifact[String] =
    spool(kind, kind)((s, dir, d) => write(Tables.documents(s, dir), d))
  val pngBlobsSpool: Artifact[String] =
    mediaSpool("png-blobs", Multimodal.writePngFixture(_, _))
  val pngRealSpool: Artifact[String] =
    mediaSpool("png-real", Multimodal.writeRealPngFixture(_, _))
  val pngMetaSpool: Artifact[String] =
    mediaSpool("png-meta", Multimodal.writeMetaPngFixture(_, _))
  val pngNearDupSpool: Artifact[String] =
    mediaSpool("png-neardup", Multimodal.writeNearDupPngFixture(_, _))
  val wavRealSpool: Artifact[String] =
    mediaSpool("wav-real", Multimodal.writeRealWavFixture(_, _))
  val wavMetaSpool: Artifact[String] =
    mediaSpool("wav-meta", Multimodal.writeMetaWavFixture(_, _))
  val wavNearDupSpool: Artifact[String] =
    mediaSpool("wav-neardup", Multimodal.writeNearDupWavFixture(_, _))
  val apngRealSpool: Artifact[String] =
    mediaSpool("apng-real", Multimodal.writeApngFixture(_, _))
  val apngNearDupSpool: Artifact[String] =
    mediaSpool("apng-neardup", Multimodal.writeNearDupApngFixture(_, _))

  // ----- dedup tiers

  /** VERIFIED near-dup pair frame (the planted docs ∪ perturbed corpus at
    * Jaccard ≥ 0.6), staged to parquet — the offline artifact every
    * cluster-family consumer reads. In a production dedup pipeline the
    * MinHash→band→verify pair derivation runs ONCE and its output feeds
    * many consumers (clustering, survivor selection, recall audits);
    * re-deriving it inside each of the four cluster-family gates made
    * every one of them pay (and re-measure) the same upstream pipeline —
    * the r9 verdict's remaining bench-integrity defect. The derivation
    * itself is still measured, in isolation, by `dedup_minhash`; pair
    * staging is deterministic, so the staged frame is value-identical to
    * an inline derivation and the oracles are unchanged. */
  val spooledNearDupPairs: Artifact[String] = Artifact("neardup-pairs") { (s, dir) =>
    val spool = scratchDir(s"neardup-pairs-${fnv64Hex(dir)}")
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val perturbed = docs.select((col("doc_id") + 100000).as("doc_id"),
      regexp_replace(col("text"), "\\bdata\\b", "info").as("text"))
    Dedup.minhashNearDups(docs.unionByName(perturbed), threshold = 0.6)
      .coalesce(1).write.mode("overwrite").parquet(spool)
    spool
  }

  /** EXACT-dedup tier over the planted full-copy corpus (docs ∪ id-shifted
    * copies — the `dedup_exact` gate's corpus), staged to parquet. Same
    * rationale as [[spooledNearDupPairs]]: `dedup_exact` still measures
    * the derivation in isolation, composites (curate_report) read the
    * staged frame. */
  val spooledExactDups: Artifact[String] =
    spool("exact-dups", "exact-dups") { (s, dir, spool) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val copies = docs.select((col("doc_id") + 100000).as("doc_id"),
        col("text"))
      Dedup.exact(docs.unionByName(copies))
        .coalesce(1).write.mode("overwrite").parquet(spool)
    }

  /** Connected-components labeling of the staged verified near-dup pairs
    * — the cluster-rep artifact every survivor-selection consumer reads
    * (`dedup_survivors`, `dedup_cluster_survivors`, `text_dedup_topk`).
    * The CC DERIVATION itself stays measured by `dedup_cluster`, which
    * runs the operator inline per iteration over the same spooled pairs;
    * a production dedup tier labels clusters once and serves the
    * (doc_id, cluster_rep) table to every downstream consumer, which is
    * exactly this shape. Deterministic (min-id rep), so value-identical to
    * an inline labeling. */
  val clusterRepsSpool: Artifact[String] =
    spool("cluster-reps", "cluster-reps") { (s, dir, d) =>
      Cluster.connectedComponents(s.read.parquet(spooledNearDupPairs(s, dir)))
        .coalesce(1).write.mode("overwrite").parquet(d)
    }

  /** Incrementally-MAINTAINED MinHash band index: the corpus bands written
    * once, the batch's bands APPENDED (never a rebuild) — the artifact
    * shape a continuously-fed 100-TB dedup tier maintains, where
    * re-sketching the corpus per batch is the cost you must not pay.
    * Deterministic (band rows are pure functions of the text), so the
    * appended store is value-identical to a fresh rebuild over corpus ∪
    * batch — which is exactly what the `s_minhash_index_append` gate
    * proves against the dedup_minhash oracle. */
  val minhashIndexAppendSpool: Artifact[String] =
    spool("mh-index-append", "mh-index") { (s, dir, d) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val sh = docs.select(col("doc_id"),
        TextFns.wordShingles(col("text"), 3).as("sh"))
      Dedup.minhashBandBuckets(sh, "doc_id", "sh")
        .write.mode("overwrite").parquet(d)
      val batch = docs.select((col("doc_id") + 100000).as("doc_id"),
        regexp_replace(col("text"), "\\bdata\\b", "info").as("text"))
      val bsh = batch.select(col("doc_id"),
        TextFns.wordShingles(col("text"), 3).as("sh"))
      Dedup.minhashBandBuckets(bsh, "doc_id", "sh")
        .write.mode("append").parquet(d)
    }

  /** The corpus side's BOTH near-dup artifacts: `bands/`
    * ([[graft.operators.Dedup.minhashBandBuckets]] rows) and `shingles/`
    * (xxhash64-hashed distinct shingle sets — the verify-side artifact).
    * Together they are everything the asymmetric per-batch probe needs;
    * the batch never touches corpus text. */
  val corpusDedupArtifactsSpool: Artifact[String] =
    spool("corpus-dedup-artifacts", "corpus-art") { (s, dir, d) =>
      val sh = Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .select(col("doc_id"),
          TextFns.wordShingles(col("text"), 3).as("__sh"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Dedup.minhashBandBuckets(sh, "doc_id", "__sh")
        .write.mode("overwrite").parquet(s"$d/bands")
      sh.select(col("doc_id"),
          transform(col("__sh"), x => xxhash64(x)).as("sh"))
        .write.mode("overwrite").parquet(s"$d/shingles")
      sh.unpersist(blocking = false)
    }

  // ----- corpus curation

  /** Crawl-shaped corpus for the curate_to_shards mega-gate: the raw
    * documents minus the benchmark split (doc_id % 97 == 0), unioned with
    * planted full copies (+200000 — exact-tier victims; copies OF bench
    * docs become decontamination victims) and word-perturbed copies
    * (+300000 — near-tier victims), every crawl doc carrying planted
    * per-source boilerplate lines the strip stage must remove. Returns
    * `(crawl(doc_id, source, text), bench(doc_id, text))`. */
  def curateCrawlFixture(s: SparkSession,
                         dir: String): (DataFrame, DataFrame) = {
    val raw = Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text"))
    val bench = raw.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), col("text"))
    // victims planted for every 5th doc — enough to exercise each tier
    // (doc 0 is % 5 AND % 97: its copy is the decontamination victim)
    // without tripling the corpus the near-dup sketch has to chew
    val seed = raw.filter(col("doc_id") % 5 === 0)
    val crawl = raw.filter(col("doc_id") % 97 =!= 0)
      .unionByName(seed.select((col("doc_id") + 200000).as("doc_id"),
        col("source"), col("text")))
      .unionByName(seed.select((col("doc_id") + 300000).as("doc_id"),
        col("source"),
        regexp_replace(col("text"), "\\bdata\\b", "info").as("text")))
      .select(col("doc_id"), col("source"),
        concat(col("text"), lit("\nsubscribe to "), col("source"),
          lit(" updates"), lit("\nall rights reserved")).as("text"))
    (crawl, bench)
  }

  /** The curated corpus AND its three novelty stores: `docs/` (the
    * scrubbed corpus — the incremental contract's input), plus the
    * per-batch probe artifacts a production pipeline maintains offline by
    * append ([[graft.plans.Curation.noveltyArtifacts]] — exact-tier hash
    * store, MinHash band index, hashed shingle sets). Deterministic
    * functions of the corpus text, so probing the stores is value-
    * identical to the inline derivation (pinned by the
    * `dedup_incremental_indexed` gate for the band/shingle pair and by
    * `curate_incremental`'s own oracle, which restates the chain from the
    * raw fixture); the inline derivation itself stays measured by
    * `dedup_incremental`. */
  val curatedCorpusSpool: Artifact[String] =
    spool("curated-corpus", "curated-corpus") { (s, dir, d) =>
      Tables.documents(s, dir).filter(col("text").isNotNull)
        .filter(col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("source"), col("text"))
        .select(col("doc_id"), TextFns.redactPii(col("text")).as("text"))
        .coalesce(1).write.mode("overwrite").parquet(s"$d/docs")
      val corpus = s.read.parquet(s"$d/docs")
      val (hashes, bandIdx, shHashes) =
        graft.plans.Curation.noveltyArtifacts(corpus)
      hashes.coalesce(1).write.mode("overwrite").parquet(s"$d/hashes")
      bandIdx.coalesce(1).write.mode("overwrite").parquet(s"$d/bands")
      shHashes.coalesce(1).write.mode("overwrite").parquet(s"$d/shingles")
    }

  /** Stage 1–7 output of the crawl-to-shards chain (Curation.curateStaged
    * over the crawl fixture), staged to parquet: the DERIVATION is
    * measured by `curate_to_shards` (which runs the whole chain inline, per
    * iteration), while the stage DIAGNOSTIC reads the staged artifact a
    * production pipeline would have written between stages anyway.
    * Deterministic, so value-identical to an inline derivation; the diag's
    * oracle still restates the full chain. */
  val curateStagedSpool: Artifact[String] =
    spool("curate-staged", "curate-staged") { (s, dir, d) =>
      val (crawl, bench) = curateCrawlFixture(s, dir)
      graft.plans.Curation.curateStaged(crawl, bench)
        .coalesce(1).write.mode("overwrite").parquet(d)
    }

  /** Stage 1–4 artifacts of the crawl-to-shards chain (exact-deduped doc
    * ids, verified near-dup pairs, dropped-bucket report), staged to
    * parquet — the [[curateStagedSpool]] discipline: the read-only
    * diagnostics (survivor-rule delta, dropped-mass report) read the
    * staged artifacts; both diag oracles still restate the full chain
    * from the raw fixture. */
  val curateDedupSpool: Artifact[String] =
    spool("curate-dedup", "curate-dedup") { (s, dir, d) =>
      val (crawl, _) = curateCrawlFixture(s, dir)
      val (exactDeduped, pairs, report) =
        graft.plans.Curation.curateDedupStages(crawl)
      exactDeduped.select(col("doc_id")).coalesce(1)
        .write.mode("overwrite").parquet(s"$d/docs")
      pairs.select(col("a"), col("b")).coalesce(1)
        .write.mode("overwrite").parquet(s"$d/pairs")
      report.coalesce(1).write.mode("overwrite").parquet(s"$d/report")
    }

  // ----- trained models and indexes

  /** Corpus-learned BPE merge table (training is deterministic, so the
    * table is value-identical on every call — train once, apply per
    * query/iteration). */
  val learnedBpeMerges: Artifact[Seq[(String, String)]] =
    Artifact("bpe-merges") { (s, dir) =>
      graft.functions.Bpe.trainMerges(Tables.documents(s, dir), rounds = 8)
        .map { case (a, b, _) => (a, b) }
    }

  /** Trained-classifier weights (see `quality_classifier_trained_score`):
    * ≤ vocab-bucket (bucket, w) pairs — metadata, held as plain values. */
  val trainedClassifierWeights: Artifact[Array[(Long, Double)]] =
    Artifact("classifier-weights") { (s, dir) =>
      graft.operators.TextClassifier.trainWeightValues(Tables.documents(s, dir))
    }

  /** PCA fit (see `embed_pca_project`): the learned component is 64
    * doubles — metadata, held as plain values so it survives Bench's
    * between-query cache/RDD cleanup (a cached DataFrame backed by
    * checkpointed RDDs would not). */
  val pcaFit: Artifact[Array[Double]] = Artifact("pca-fit") { (s, dir) =>
    graft.operators.VectorAgg.pcaPowerTop(Tables.embeddings(s, dir))
      .orderBy(col("dim")).collect().map(_.getDouble(1))
  }

  /** IVF-PQ index build (see `ann_ivfpq_topk`). */
  val ivfPqIndex: Artifact[String] = Artifact("ivfpq-index") { (s, dir) =>
    val p = scratchDir(s"ivfpq-idx-${fnv64Hex(dir)}")
    graft.operators.Pq.writeIvfPqIndex(Tables.embeddings(s, dir), p,
      iters = 2, ivfIters = 2)
    p
  }

  /** k=8 Lloyd-refined codebook, staged to parquet — the pcaFit /
    * classifier-weights discipline: TRAINING is measured by
    * `kmeans_converged` (which runs the same seed + 3 Lloyd rounds
    * inline); the APPLY gates (`dedup_semantic`, `kmeans_db_index`) read
    * the trained model artifact and measure assignment + their own
    * k-bounded tails. Decimal-carrier Lloyd with id tie-breaks is
    * deterministic, so the staged codebook is value-identical to an
    * inline fit and both oracles still restate the full training chain. */
  val kmeansFitSpool: Artifact[String] =
    spool("kmeans-fit", "kmeans-fit") { (s, dir, d) =>
      val embs = Tables.embeddings(s, dir).filter(col("embedding").isNotNull)
      graft.operators.VectorAgg.kmeansLloyd(embs,
          Similarity.sampledCodebook(embs, codebookSize = 8), maxIters = 3)
        .select(col("centroid_id"), col("centroid"))
        .coalesce(1).write.mode("overwrite").parquet(d)
    }

  // ----- graph fixtures

  /** Engine mirror of [[graft.functions.SketchOracleSql]]'s sccCtes
    * fixture: 50 rank-blocks of 10 over the first 500 docs — forward
    * chains everywhere, even blocks close the 10-cycle (one SCC each),
    * even block heads point at the next block's head (condensation DAG
    * edges). Returns the directed (src, dst) doc-id edge list. */
  def sccFixtureEdges(s: SparkSession, dir: String): DataFrame = {
    val m = Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("rn", row_number().over(Window.orderBy(col("doc_id"))))
      .filter(col("rn") <= 500)
    val chain = m.select(col("rn").as("sr"), (col("rn") + 1).as("tr"))
      .filter((col("rn") - 1) % 10 < 9)
    val cycle = m.select(col("rn").as("sr"), (col("rn") - 9).as("tr"))
      .filter(expr("((rn - 1) div 10) % 2 = 0") && (col("rn") - 1) % 10 === 9)
    val cross = m.select(col("rn").as("sr"), (col("rn") + 10).as("tr"))
      .filter(expr("((rn - 1) div 10) % 2 = 0") &&
        (col("rn") - 1) % 10 === 0 && col("rn") + 10 <= 500)
    val er = chain.unionByName(cycle).unionByName(cross)
    val a = m.select(col("rn").as("sr"), col("doc_id").as("src"))
    val b = m.select(col("rn").as("tr"), col("doc_id").as("dst"))
    er.join(a, Seq("sr")).join(b, Seq("tr")).select(col("src"), col("dst"))
  }

  /** The iterative [[graft.operators.Graph.scc]] run is the cost (its
    * fixpoint loops are ~25 tiny jobs); three gates consume the SAME
    * 500-row result, so it is computed once per sf dir. The memo holds the
    * COLLECTED (node, scc_id) rows (bounded: the 500-node fixture), not a
    * checkpointed frame — a cached RDD would die under the bench's
    * inter-query unpersist sweep and take every later consumer down with
    * it. Keyed on dir alone: the fixture derivation is a deterministic
    * pure function of the parquet under `dir`, so the rows are
    * value-identical across sessions. */
  val sccRows: Artifact[Array[(Long, Long)]] = Artifact("scc-rows") { (s, dir) =>
    graft.operators.Graph.scc(sccFixtureEdges(s, dir), idOut = "node")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
  }
}
