package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gates.{Artifacts, GateRegistry}
import graft.plans.TaxaVariacao

/** Driver contract: the flagship entry point, the committed raw-export
  * fixtures, and name-keyed views of the gate registry
  * ([[graft.gates.GateRegistry.all]]) — one oracle-checked gate per
  * implemented operator from SURVEY.md §2, each declared once in its family
  * module under `graft.gates`.
  */
object SparkEntry {

  /** Flagship query (vw_taxa_variacao analog) on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    TaxaVariacao(spark, "/root/testdata/sf0.001")

  /** Committed raw-export fixtures dir, resolved against the working
    * directory at class-load and made absolute so the engine and the DuckDB
    * oracle (whatever its later cwd) read the identical files — no
    * hardcoded checkout path. Overridable via -Dgraft.fixtures.dir. */
  val fixturesDir: String = new java.io.File(
    sys.props.getOrElse("graft.fixtures.dir", "fixtures")).getAbsolutePath

  /** (path, fileName, headerIdx, months) per committed fixture — the
    * metadata the lifecycle oracle needs to re-read the same raw files.
    * headerIdx/months match the files' committed preamble shape. */
  val rawFixtures: Seq[(String, String, Int, Seq[String])] = Seq(
    (new java.io.File(fixturesDir, "ida_raw_2023_scm.csv").getPath,
      "ida_raw_2023_scm.csv", 4, Seq("2023-01", "2023-02", "2023-03")),
    (new java.io.File(fixturesDir, "ida_raw_2023_smp.csv").getPath,
      "ida_raw_2023_smp.csv", 5, Seq("2023-01", "2023-02", "2023-03",
        "2023-04", "2023-05", "2023-06")))

  /** The SMP fixture — the single-file S4/S5/S6 query's input. */
  val rawFixturePath: String = rawFixtures(1)._1

  /** Comma-delimited quoted-field variant of the SMP fixture (identical
    * data; decimal-comma cells are double-quoted) — the second raw
    * encoding the tolerant reader must absorb (`s4_raw_ingest_quoted`). */
  val quotedFixturePath: String =
    new java.io.File(fixturesDir, "ida_raw_2023_smp_quoted.csv").getPath

  /** The STFC WORKBOOK fixture: a directory-of-sheets container (the
    * sandbox analog of the reference's multi-sheet ODS — itself a zip of
    * named parts) holding the service's `Telefonia_Fixa` sheet (preamble
    * junk + merged-cell blank GRUPO groups) plus a decoy `Notas` sheet
    * that MUST never be parsed (its header probe would fail loudly).
    * The tuple is the lifecycle-oracle metadata for the mapped sheet. */
  val wbFixtureDir: String =
    new java.io.File(fixturesDir, "ida_raw_2023_stfc.wb").getPath
  val wbSheetFixture: (String, String, Int, Seq[String]) =
    (new java.io.File(wbFixtureDir, "Telefonia_Fixa.csv").getPath,
      "Telefonia_Fixa.csv", 3, Seq("2023-01", "2023-02", "2023-03"))

  /** The REAL ODS fixture: a genuine OpenDocument zip container
    * (mimetype + META-INF/manifest.xml + content.xml, written once by
    * tools/make_ods_fixture.py and committed) holding the 2024 STFC
    * export as the `Telefonia_Fixa` sheet — merged-cell anchors with
    * covered continuation cells, run-length empty cells, LibreOffice's
    * ~1M-row trailing padding — plus the decoy `Notas` sheet that must
    * never be parsed. 2024 so discovery with anosAlvo=[2024] finds
    * exactly this one resource. */
  val odsFixturePath: String =
    new java.io.File(fixturesDir, "ida_raw_2024_stfc.ods").getPath

  /** CSV mirror of the ODS sheet's logical grid for the DuckDB oracle
    * (DuckDB has no ODS reader), generated from the SAME grid definition
    * by the same script; grid equality between the parsed ODS and this
    * mirror is additionally pinned in OdsSpec. Its name deliberately does
    * not match the catalog's resource pattern. The oracle-metadata tuple
    * carries the ODS file's name — the engine's ARQUIVO_ORIGEM lineage is
    * the container, not the mirror. */
  val odsOracleFixture: (String, String, Int, Seq[String]) =
    (new java.io.File(fixturesDir, "ods_oracle_2024_stfc.csv").getPath,
      "ida_raw_2024_stfc.ods", 3, Seq("2024-01", "2024-02", "2024-03"))

  /** Every gate's engine body by name. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    GateRegistry.all.queries

  /** Every gate's DuckDB oracle SQL by name. */
  def oracleSql: Map[String, String] = GateRegistry.all.oracleSql

  /** Build every artifact some gate declares, for one sf dir — Bench's
    * untimed warmup. Returns the number of artifacts staged. */
  def stageAllSpools(s: SparkSession, dir: String): Int =
    Artifacts.stage(s, dir, GateRegistry.all.artifacts)
}
