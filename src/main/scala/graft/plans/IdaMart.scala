package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Fns._
import graft.sources.Tables

/** Star-schema mart build — the reference's load path (SURVEY.md §2.1
  * S7/S8/S10, §2.3 J3, §2.4 A4) rebuilt Spark-first over the `orders`
  * fixture: o_orderdate -> tempo, o_orderpriority -> grupo_economico,
  * o_orderstatus -> servico, o_totalprice -> the measure.
  *
  * Reference semantics:
  *  - dimensions are distinct natural keys + surrogate keys
  *    (/root/reference/etl/etl_ida.py:556-620); surrogate keys here are
  *    `row_number` over the natural key order — deterministic and stable,
  *    unlike `monotonically_increasing_id` which depends on partition layout;
  *  - the fact load is an INSERT..SELECT over 4 natural-key lookups where a
  *    record matching no dim row is silently dropped
  *    (/root/reference/etl/etl_ida.py:504-554) -> inner broadcast joins;
  *  - dedup via md5 record hash + ON CONFLICT DO NOTHING
  *    (schema_star.sql:93-94) -> dropDuplicates(hash) for intra-batch,
  *    left-anti join vs the existing table for cross-batch idempotency.
  *
  * Scale shape: all four dims are tiny (derived from low-cardinality
  * attributes) -> broadcast hash joins, zero shuffle on the fact side; the
  * only wide operation is dropDuplicates on the hash (one shuffle on an
  * already-narrow projection). The dim windows run on driver-scale data.
  */
object IdaMart {

  /** Normalized records (the reference's DataRecord,
    * /root/reference/etl/etl_ida.py:103-131) derived from `orders`. */
  def records(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      monthStart(col("o_orderdate")).as("ano_mes"),
      col("o_orderpriority").as("grupo_economico"),
      col("o_orderstatus").as("servico"),
      lit("TOTALPRICE").as("variavel"),
      col("o_totalprice").as("valor"),
      lit("orders.parquet").as("arquivo_origem"),
      col("o_orderkey").as("linha_origem"))

  /** Typed view of [[records]] — `Dataset[DataRecord]` for callers that
    * want compile-time row typing (SURVEY §1.1). */
  def recordsTyped(spark: SparkSession, dir: String): org.apache.spark.sql.Dataset[graft.model.DataRecord] = {
    import spark.implicits._
    records(spark, dir)
      .withColumn("valor", col("valor").cast("double"))
      .as[graft.model.DataRecord]
  }

  /** Distinct natural keys ranked into surrogate keys ON THE DRIVER.
    *
    * Dims are metadata-cardinality by contract (the reference seeds
    * 36/10/3/11 rows, schema_star.sql:198-268): the distinct set is a
    * driver-sized collect — the same size bound that already makes these
    * dims broadcast-join build sides. Ranking driver-side replaces the
    * previous `row_number` over a global window, which (a) forced an
    * all-rows-to-one-partition WindowExec whose "No Partition Defined"
    * warning drowned out real single-partition regressions, and (b) as a
    * lazy subtree inside the fact's multi-join got re-aliased by the
    * analyzer's self-join deduplication and re-scanned the raw source
    * (PipelineSpec's scan-count test pins this).
    *
    * Null natural keys are dropped: the fact's equi-join lookup never
    * matches null, and Spark (NULLS FIRST) vs DuckDB (NULLS LAST) disagree
    * on where a null would rank. Scala String order (UTF-16 code units)
    * equals DuckDB's UTF-8 byte order for all BMP text — the fixtures'
    * pt-BR accents included. */
  /** Fail-fast bound on the driver-side dim collect: dims larger than this
    * violate the metadata-cardinality contract (they would not be
    * broadcastable either) — a clear error beats a silent driver OOM at
    * 100 TB. The reference's largest dim is 36 rows. */
  val MaxDimCardinality = 100000

  private def rankedKeys(records: DataFrame, natural: String,
                         keyName: String): DataFrame = {
    val spark = records.sparkSession
    val keyType = records.schema(natural).dataType
    // limit(N+1) bounds the transfer BEFORE collecting, so the check
    // itself cannot blow the driver
    val vals = records.select(col(natural)).where(col(natural).isNotNull)
      .distinct().limit(MaxDimCardinality + 1).collect().map(_.get(0)).toSeq
    require(vals.length <= MaxDimCardinality,
      s"dimension '$natural' exceeds $MaxDimCardinality distinct keys — " +
        "not a metadata-scale dimension; model it as a fact-side column " +
        "or raise MaxDimCardinality deliberately")
    val sorted = vals.sortWith {
      case (a: java.sql.Date, b: java.sql.Date) => a.getTime < b.getTime
      case (a, b) => String.valueOf(a) < String.valueOf(b)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(sorted.zipWithIndex.map {
        case (v, i) => org.apache.spark.sql.Row(i + 1, v) }: _*),
      StructType(Seq(StructField(keyName, IntegerType, nullable = false),
        StructField(natural, keyType))))
  }

  /** S8/A4: dim_tempo — distinct months + calendar attributes
    * (schema_star.sql:19-27; /root/reference/etl/etl_ida.py:574-587). */
  def dimTempo(records: DataFrame): DataFrame =
    rankedKeys(records, "ano_mes", "tempo_key").select(
      col("tempo_key"),
      col("ano_mes"),
      year(col("ano_mes")).as("ano"),
      month(col("ano_mes")).as("mes"),
      ptBrMonthName(month(col("ano_mes"))).as("mes_nome"),
      trimestre(col("ano_mes")).as("trimestre"),
      semestre(col("ano_mes")).as("semestre"))

  /** S8/A4: dim_grupo_economico (schema_star.sql:35-41). */
  def dimGrupo(records: DataFrame): DataFrame =
    rankedKeys(records, "grupo_economico", "grupo_key").select(
      col("grupo_key"),
      col("grupo_economico").as("grupo_codigo"),
      col("grupo_economico").as("grupo_nome"),
      upper(regexp_replace(col("grupo_economico"), "[^A-Za-z0-9]+", "_"))
        .as("grupo_normalizado"),
      lit(true).as("ativo"))

  /** S8/A4: dim_servico (schema_star.sql:49-55). */
  def dimServico(records: DataFrame): DataFrame =
    rankedKeys(records, "servico", "servico_key").select(
      col("servico_key"),
      col("servico").as("servico_codigo"),
      col("servico").as("servico_nome"),
      concat(lit("Servico "), col("servico")).as("servico_descricao"),
      lit(true).as("ativo"))

  /** S8/A4: dim_variavel — derived from the records batch like the other
    * dims (the reference also upserts variables it encounters,
    * /root/reference/etl/etl_ida.py:600-620; rich seeded metadata lives in
    * [[MartSchema.seedDimVariavel]]). */
  def dimVariavel(records: DataFrame): DataFrame =
    rankedKeys(records, "variavel", "variavel_key").select(
      col("variavel_key"),
      col("variavel").as("variavel_codigo"),
      col("variavel").as("variavel_nome"),
      concat(lit("Variavel "), col("variavel")).as("variavel_descricao"),
      lit(true).as("ativo"))

  /** F8: the canonical record hash — the ONE definition shared by the batch
    * fact build and the streaming ingest ([[graft.streaming.Ingest]]); any
    * drift between the two would break cross-path idempotency. */
  def hashRecords(recs: DataFrame): DataFrame =
    recs.withColumn("hash_registro",
      recordHash(
        date_format(col("ano_mes"), "yyyy-MM-dd"),
        col("grupo_economico"), col("servico"), col("variavel"),
        money2(col("valor"))))

  /** All four dims' distinct key sets in ONE bounded pass: each record
    * explodes to four (dim, canonical-string key) rows (dates travel as
    * exact 'yyyy-MM-dd' strings), one distinct shuffle (partial aggregation
    * collapses per-partition first, so shuffle bytes ≈ sum of per-dim
    * distinct sets, same as four separate jobs), and a per-dim rank bounds
    * every dim to [[MaxDimCardinality]]+1 rows BEFORE the collect. */
  private def dimKeySets(records: DataFrame): Map[String, Seq[String]] = {
    val tagged = records.select(explode(array(
        struct(lit("ano_mes").as("d"),
          date_format(col("ano_mes"), "yyyy-MM-dd").as("k")),
        struct(lit("grupo_economico").as("d"), col("grupo_economico").as("k")),
        struct(lit("servico").as("d"), col("servico").as("k")),
        struct(lit("variavel").as("d"), col("variavel").as("k")))).as("e"))
      .select(col("e.d").as("d"), col("e.k").as("k"))
      .where(col("k").isNotNull)
      .distinct()
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("d")).orderBy(col("k"))))
      .filter(col("__rn") <= MaxDimCardinality + 1)
    tagged.collect().groupBy(_.getString(0)).map { case (d, rows) =>
      require(rows.length <= MaxDimCardinality,
        s"dimension '$d' exceeds $MaxDimCardinality distinct keys — " +
          "not a metadata-scale dimension; model it as a fact-side column " +
          "or raise MaxDimCardinality deliberately")
      d -> rows.map(_.getString(1)).toSeq
    }
  }

  /** Single-column local relation over collected dim keys — the broadcast
    * build side that never re-touches the raw source. */
  private def localKeyFrame(spark: SparkSession, name: String,
                            dataType: org.apache.spark.sql.types.DataType,
                            values: Seq[Any]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(values.map(v => org.apache.spark.sql.Row(v)): _*),
      StructType(Seq(StructField(name, dataType))))

  /** J3 + S7: fact build — 4-way natural-key lookup (inner: a record whose
    * key matches no dim row — e.g. a null natural key, which an equi-join
    * never matches — is silently dropped like the reference), F8 md5 hash,
    * intra-batch dedup.
    *
    * Scan discipline: recs is persisted; the ONE [[dimKeySets]] job both
    * computes every dim's bounded key set and materializes the cache the
    * main pass reads — the raw source is scanned exactly once and the
    * cache exactly twice, independent of the dim count (PipelineSpec pins
    * source scans with an accumulator). Deriving the dims lazily inside
    * the join plan instead would re-scan the source per dim: the
    * analyzer's self-join de-duplication re-aliases those subtrees past
    * the persist. */
  def fact(recs: DataFrame): DataFrame = {
    val spark = recs.sparkSession
    val cached = recs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keys = dimKeySets(cached).withDefaultValue(Seq.empty[String])
    val dt = dimTempo(localKeyFrame(spark, "ano_mes",
      recs.schema("ano_mes").dataType,
      keys("ano_mes").map(java.sql.Date.valueOf(_))))
    val strType = org.apache.spark.sql.types.StringType
    val dg = dimGrupo(localKeyFrame(spark, "grupo_economico", strType,
      keys("grupo_economico")))
    val ds = dimServico(localKeyFrame(spark, "servico", strType,
      keys("servico")))
    val dv = dimVariavel(localKeyFrame(spark, "variavel", strType,
      keys("variavel")))
    val hashed = hashRecords(cached)
    hashed
      .join(broadcast(dt.select(col("tempo_key"), col("ano_mes"))), Seq("ano_mes"))
      .join(broadcast(dg.select(col("grupo_key"),
        col("grupo_codigo").as("grupo_economico"))), Seq("grupo_economico"))
      .join(broadcast(ds.select(col("servico_key"),
        col("servico_codigo").as("servico"))), Seq("servico"))
      .join(broadcast(dv.select(col("variavel_key"),
        col("variavel_codigo").as("variavel"))), Seq("variavel"))
      .select(col("tempo_key"), col("grupo_key"), col("servico_key"),
        col("variavel_key"), col("valor").cast(DecimalType(15, 6)).as("valor"),
        col("arquivo_origem"), col("linha_origem"),
        current_timestamp().as("data_processamento"),   // F18 lineage
        col("hash_registro"),
        // physical partition carrier: the reference tunes with covering
        // indexes (schema_star.sql:96-101); the Spark analog is writing the
        // fact partitioned by year (Sinks.writeFactPartitioned) so year
        // predicates prune directories instead of scanning the store
        year(col("ano_mes")).as("ano"))
      .transform(firstWinsDedup(_, Seq("hash_registro"),
        Seq("arquivo_origem", "linha_origem")))
  }

  /** Deterministic dedup: the reference's first-INSERT-wins ON CONFLICT
    * semantics (file order, then row order). `dropDuplicates` would keep an
    * arbitrary row per key (partition-layout dependent) — unacceptable for a
    * reproducible engine. `orderCols` must totally order rows within a key
    * (linha_origem alone ties across files — it restarts per sheet).
    * One shuffle on the key, same as dropDuplicates. */
  def firstWinsDedup(df: DataFrame, keys: Seq[String],
                     orderCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** S7 cross-batch idempotency: ON CONFLICT (hash_registro) DO NOTHING ->
    * left-anti join against the already-loaded fact. Appending the result of
    * `load(existing, batch)` is a no-op when the batch was already loaded. */
  def load(existing: DataFrame, batch: DataFrame): DataFrame =
    batch.dropDuplicates("hash_registro")
      .join(existing.select(col("hash_registro")), Seq("hash_registro"), "left_anti")

  /** Read a parquet store, or None when it does not exist yet. ONLY a
    * missing path means "first load", and that is decided by an existence
    * check, not by a caught read failure; any read failure of an existing
    * path (an empty directory, an IO error) propagates — treating it as an
    * empty store would skip the idempotency anti-join and append replayed
    * duplicates. Single definition shared by the batch pipeline, the
    * streaming ingest and the materialized view. */
  def readStoreIfExists(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path)
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      Some(spark.read.parquet(path))
    else None
  }
}
