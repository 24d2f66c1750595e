package graft

import org.apache.spark.sql.functions._

import graft.plans.IdaMart
import graft.sources.Probe

/** Load-path semantics: idempotency (ON CONFLICT DO NOTHING),
  * first-wins dedup determinism, unmatched-dimension drops (J3). */
class IdaMartSpec extends SparkSpec {
  import spark.implicits._

  test("fact load is idempotent: re-loading the same batch adds nothing (S7)") {
    val recs = IdaMart.records(spark, sf0001)
    val fact1 = IdaMart.fact(recs).cache()
    val delta = IdaMart.load(existing = fact1, batch = fact1)
    assert(delta.count() == 0)
    fact1.unpersist()
  }

  test("firstWinsDedup keeps the lowest-order row per key, deterministically") {
    val df = Seq(("k1", 3L, "c"), ("k1", 1L, "a"), ("k1", 2L, "b"), ("k2", 9L, "z"))
      .toDF("k", "ord", "payload")
    val got = IdaMart.firstWinsDedup(df, Seq("k"), Seq("ord"))
      .orderBy("k").collect().map(r => (r.getString(0), r.getString(2)))
    assert(got.toSeq == Seq(("k1", "a"), ("k2", "z")))
  }

  test("fact drops records with no matching dimension row (J3 inner semantics)") {
    val recs = IdaMart.records(spark, sf0001)
    // null out one record's variavel: distinct() carries the null into the
    // derived dim, but the equi-join lookup never matches null — the row is
    // silently dropped, like the reference's zero-rowcount INSERT..SELECT
    val poisoned = recs.withColumn("variavel",
      when(col("linha_origem") === recs.select(min("linha_origem")).first().getLong(0),
        lit(null)).otherwise(col("variavel")))
    val n = IdaMart.fact(poisoned).count()
    val full = IdaMart.fact(recs).count()
    assert(n == full - 1)
  }

  test("fact output conforms to the DDL mirror (factSchema minus fato_key)") {
    val out = IdaMart.fact(IdaMart.records(spark, sf0001)).schema
    val expected = graft.plans.MartSchema.factSchema
      .filterNot(_.name == "fato_key")
    expected.foreach { f =>
      val got = out.find(_.name == f.name)
      assert(got.isDefined, s"missing column ${f.name}")
      assert(got.get.dataType == f.dataType,
        s"${f.name}: ${got.get.dataType} != ${f.dataType}")
    }
    // + the physical partition carrier `ano` consumed by
    // Sinks.writeFactPartitioned (not part of the logical DDL mirror)
    assert(out.find(_.name == "ano").exists(
      _.dataType == org.apache.spark.sql.types.IntegerType))
    assert(out.length == expected.length + 1)
  }

  test("header probe: token row, month row, default (S6)") {
    assert(Probe.findHeaderRow(Seq(
      Seq("x", "y"), Seq("GRUPO ECONÔMICO", "VARIÁVEL"))) == 1)
    assert(Probe.findHeaderRow(Seq(
      Seq("a", "b"), Seq("foo", "2017-03"))) == 1)
    assert(Probe.findHeaderRow(Seq(Seq("a"), Seq("b"))) == 8)
  }

  test("month-column predicate bounds (P3)") {
    assert(Probe.isMonthColumn("2017-01"))
    assert(Probe.isMonthColumn("2017-12 00:00:00")) // timestamp-ish header
    assert(!Probe.isMonthColumn("1999-01"))
    assert(!Probe.isMonthColumn("2017-13"))
    assert(!Probe.isMonthColumn("GRUPO"))
  }

  test("readStoreIfExists: a missing path is a first load, an empty store still throws") {
    val root = java.nio.file.Files.createTempDirectory("graft-store-probe")
    assert(IdaMart.readStoreIfExists(spark, root.resolve("absent").toString).isEmpty)
    // an existing directory without parquet is not "first load": reading it
    // must fail, or a broken store would skip the idempotency anti-join
    intercept[org.apache.spark.sql.AnalysisException](
      IdaMart.readStoreIfExists(spark, root.toString))
    Seq(1, 2).toDF("x").write.parquet(root.resolve("store").toString)
    assert(IdaMart.readStoreIfExists(spark, root.resolve("store").toString)
      .map(_.count()).contains(2L))
  }
}
