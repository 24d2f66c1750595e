package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Seeded generator of one raw IDA batch: one sheet per (service, year), the
  * reference's grain (10 economic groups x 12 variables x 12 months).
  *
  * SMP and SCM sheets are semicolon CSV; STFC sheets are real OpenDocument
  * containers (zip + content.xml) with merged group cells. Every sheet carries
  * the dirt of the real exports: preamble lines above the header, group names
  * only on the first row of a merged block, `-` and empty cells, comma
  * decimals, `%` suffixes, padded names, quoted CSV cells and a trailing
  * note row. Sheets after the first year also re-publish the previous
  * December, mostly unchanged, so the first-wins dedup removes real
  * duplicates across sheets.
  *
  * The expected counts and the digest of the loaded hashes are computed here,
  * from the generator's own model of the reference's rules, so the check does
  * not rely on the engine's own transform. */
object RawBatch {

  /** Reference long names -> canonical codes (etl_ida.py group and
    * variable maps). */
  val groups: Seq[(String, String)] = Seq(
    "ALGAR TELECOM S/A" -> "ALGAR",
    "CLARO S.A." -> "CLARO",
    "TELEFÔNICA BRASIL S.A." -> "VIVO",
    "TIM S.A." -> "TIM",
    "OI S.A." -> "OI",
    "NET SERVIÇOS DE COMUNICAÇÃO S.A." -> "NET",
    "SKY BRASIL SERVIÇOS LTDA." -> "SKY",
    "EMPRESA BRASILEIRA DE TELECOMUNICAÇÕES S.A. - EMBRATEL" -> "EMBRATEL",
    "NEXTEL TELECOMUNICAÇÕES LTDA." -> "NEXTEL",
    "SERCOMTEL S.A. TELECOMUNICAÇÕES" -> "SERCOMTEL")

  val variables: Seq[(String, String)] = Seq(
    "Indicador de Desempenho no Atendimento (IDA)" -> "IDA",
    "Índice de Reclamações" -> "INDICE_RECL",
    "Quantidade de acessos em serviço" -> "QTD_ACESSOS",
    "Quantidade de reabertas" -> "QTD_REABERTAS",
    "Quantidade de reclamações" -> "QTD_RECLAMACOES",
    "Quantidade de Reclamações no Período" -> "QTD_RECL_PERIODO",
    "Quantidade de Respondidas" -> "QTD_RESPONDIDAS",
    "Quantidade de Sol. Respondidas em até 5 dias" -> "QTD_RESP_5DIAS",
    "Quantidade de Sol. Respondidas no Período" -> "QTD_RESP_PERIODO",
    "Taxa de Reabertas" -> "TAXA_REABERTAS",
    "Taxa de Respondidas em 5 dias Úteis" -> "TAXA_RESP_5DIAS",
    "Taxa de Respondidas no Período" -> "TAXA_RESP_PERIODO")

  val services: Seq[String] = Seq("SMP", "STFC", "SCM")
  val years: Seq[Int] = Seq(2017, 2018, 2019)
  /** The STFC workbook's data sheet (the catalog's sheet mapping); a decoy
    * sheet sits before it. */
  val stfcSheet = "Telefonia_Fixa"

  /** Share of re-published December cells that repeat the earlier value. */
  val repeatShare = 0.7

  case class Expected(resources: Int, extracted: Long, transformed: Long,
                      loaded: Long, digest: Long, cells: Long)

  /** One generated cell: its raw text and, when the reference's rules parse
    * it, the canonical 2-dp value string used in the record hash. */
  private case class Cell(raw: String, value: Option[String])

  /** Write the batch into `dir` and return what a correct load must report. */
  def write(dir: Path, seed: Long): Expected = {
    Files.createDirectories(dir)
    val rnd = new java.util.SplittableRandom(seed)
    // (service, group, variable) -> December value of the previous sheet
    val december = scala.collection.mutable.Map.empty[(String, Int, Int), Cell]
    val hashes = scala.collection.mutable.Set.empty[String]
    var extracted = 0L
    var transformed = 0L
    var cells = 0L
    for (year <- years; service <- services) {
      val months =
        (if (year > years.head) Seq(f"${year - 1}%04d-12") else Nil) ++
          (1 to 12).map(m => f"$year%04d-$m%02d")
      val rows = for ((g, gi) <- groups.zipWithIndex;
                      (v, vi) <- variables.zipWithIndex) yield {
        val values = months.map { m =>
          val fresh = cell(rnd, vi)
          if (m.endsWith("-12") && !m.startsWith(year.toString)) {
            december.get((service, gi, vi)) match {
              case Some(prev) if rnd.nextDouble() < repeatShare => restyle(rnd, prev)
              case _ => fresh
            }
          } else {
            if (m == f"$year%04d-12") december((service, gi, vi)) = fresh
            fresh
          }
        }
        (gi, vi, values)
      }
      val fileName = service match {
        case "STFC" => s"ida_raw_${year}_stfc.ods"
        case s => s"ida_raw_${year}_${s.toLowerCase}.csv"
      }
      // expected records: every parsed cell of a data row
      rows.foreach { case (gi, vi, values) =>
        months.zip(values).foreach { case (m, c) =>
          cells += 1
          c.value.foreach { v =>
            transformed += 1
            hashes += md5Hex(s"$m-01|${groups(gi)._2}|$service|${variables(vi)._2}|$v")
          }
        }
      }
      extracted += rows.size + 1 // + the trailing note row
      val grid = sheetGrid(rnd, service, year, months, rows)
      if (service == "STFC") writeOds(dir.resolve(fileName), grid)
      else writeCsv(rnd, dir.resolve(fileName), grid)
    }
    Expected(years.size * services.size, extracted, transformed,
      hashes.size.toLong, digest(hashes), cells)
  }

  /** Order-independent digest of a set of md5 hex strings: the sum of their
    * leading 32 bits. The benchmark applies the same function to the store's
    * `hash_registro` column. */
  def digest(hashes: Iterable[String]): Long =
    hashes.iterator.map(h => java.lang.Long.parseLong(h.substring(0, 8), 16)).sum

  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  /** A fresh cell for variable `vi`: 3% `-`, 3% empty, otherwise a number in
    * the variable's range written the way the exports write it. */
  private def cell(rnd: java.util.SplittableRandom, vi: Int): Cell = {
    val r = rnd.nextDouble()
    if (r < 0.03) Cell("-", None)
    else if (r < 0.06) Cell("", None)
    else {
      val name = variables(vi)._1
      val cents =
        if (name.startsWith("Quantidade")) rnd.nextLong(100L, 100000L) * 100
        else rnd.nextLong(5000L, 10000L)
      render(rnd, cents, percent = name.startsWith("Taxa"))
    }
  }

  /** The same value as `prev`, possibly written differently (quotes, `%`,
    * trailing zero): the record hash canonicalizes the value, so it still
    * collides with the earlier sheet's record. */
  private def restyle(rnd: java.util.SplittableRandom, prev: Cell): Cell =
    prev.value match {
      case None => prev
      case Some(v) =>
        val cents = BigDecimal(v).*(100).toLongExact
        render(rnd, cents, percent = prev.raw.endsWith("%"))
    }

  private def render(rnd: java.util.SplittableRandom, cents: Long,
                     percent: Boolean): Cell = {
    val whole = cents / 100
    val frac = cents % 100
    val body =
      if (frac == 0 && rnd.nextBoolean()) whole.toString
      else if (frac % 10 == 0 && rnd.nextBoolean()) s"$whole,${frac / 10}"
      else f"$whole,$frac%02d"
    val raw = if (percent && rnd.nextBoolean()) body + "%" else body
    Cell(raw, Some(f"$whole.$frac%02d"))
  }

  /** Rows of the sheet as (cells, rowsSpanned of the first cell); a None
    * cell is the covered continuation of a merged group cell. */
  private def sheetGrid(rnd: java.util.SplittableRandom, service: String,
                        year: Int, months: Seq[String],
                        rows: Seq[(Int, Int, Seq[Cell])])
      : Seq[(Seq[Option[String]], Int)] = {
    val width = 3 + months.size
    def line(first: String): (Seq[Option[String]], Int) =
      (Some(first) +: Seq.fill(width - 1)(Some("")), 1)
    val preamble = Seq(
      line("Anatel - Indice de Desempenho no Atendimento (IDA)"),
      line(s"$service - dados mensais por grupo economico"),
      line(s"Atualizado em: 15/01/${year + 1}"))
    val header = ((Seq("GRUPO ECONOMICO", "VARIAVEL", "SERVICO") ++ months)
      .map(Some(_)), 1)
    val data = rows.map { case (gi, vi, values) =>
      val group =
        if (vi == 0) Some(pad(rnd, groups(gi)._1)) else None
      val span = if (vi == 0) variables.size else 1
      ((group +: Some(pad(rnd, variables(vi)._1)) +: Some(service) +:
        values.map(c => Some(c.raw))), span)
    }
    val note = (Some("nan") +:
      Some("Observacao: valores preliminares sujeitos a revisao") +:
      Seq.fill(width - 2)(Some("")), 1)
    preamble ++ Seq(header) ++ data :+ note
  }

  /** Surrounding and doubled inner spaces, which the clean step collapses. */
  private def pad(rnd: java.util.SplittableRandom, s: String): String =
    rnd.nextInt(10) match {
      case 0 => s" $s  "
      case 1 => s.replaceFirst(" ", "  ")
      case _ => s
    }

  private def writeCsv(rnd: java.util.SplittableRandom, path: Path,
                       grid: Seq[(Seq[Option[String]], Int)]): Unit = {
    val text = grid.map { case (cs, _) =>
      cs.map { c =>
        val v = c.getOrElse("")
        if (v.nonEmpty && v != "-" && rnd.nextInt(20) == 0) "\"" + v + "\"" else v
      }.mkString(";")
    }.mkString("", "\n", "\n")
    Files.write(path, text.getBytes(UTF_8))
  }

  private def writeOds(path: Path, grid: Seq[(Seq[Option[String]], Int)]): Unit = {
    def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    def row(cs: Seq[Option[String]], span: Int): String = {
      val sb = new StringBuilder("<table:table-row>")
      var empties = 0
      def flush(): Unit = if (empties > 0) {
        sb ++= s"""<table:table-cell table:number-columns-repeated="$empties"/>"""
        empties = 0
      }
      cs.zipWithIndex.foreach {
        case (None, _) => flush(); sb ++= "<table:covered-table-cell/>"
        case (Some(""), _) => empties += 1
        case (Some(v), j) =>
          flush()
          val spanned =
            if (j == 0 && span > 1)
              s""" table:number-rows-spanned="$span" table:number-columns-spanned="1""""
            else ""
          sb ++= s"""<table:table-cell$spanned office:value-type="string"><text:p>${esc(v)}</text:p></table:table-cell>"""
      }
      flush()
      sb ++= "</table:table-row>"
      sb.result()
    }
    def table(name: String, rows: Seq[(Seq[Option[String]], Int)]): String =
      rows.map { case (cs, span) => row(cs, span) }.mkString(
        s"""<table:table table:name="$name"><table:table-column table:number-columns-repeated="16384"/>""",
        "",
        // the trailing padding real writers emit, to the sheet's row bound
        """<table:table-row table:number-rows-repeated="1048000"><table:table-cell table:number-columns-repeated="16384"/></table:table-row></table:table>""")
    val notes = Seq((Seq(Some("Notas metodologicas")), 1),
      (Seq(Some("Nao contem dados mensais")), 1))
    val content =
      """<?xml version="1.0" encoding="UTF-8"?>""" + "\n" +
        """<office:document-content xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" office:version="1.3"><office:body><office:spreadsheet>""" +
        table("Notas", notes) + table(stfcSheet, grid) +
        "</office:spreadsheet></office:body></office:document-content>"
    val manifest =
      """<?xml version="1.0" encoding="UTF-8"?>""" + "\n" +
        """<manifest:manifest xmlns:manifest="urn:oasis:names:tc:opendocument:xmlns:manifest:1.0" manifest:version="1.3"><manifest:file-entry manifest:full-path="/" manifest:media-type="application/vnd.oasis.opendocument.spreadsheet"/><manifest:file-entry manifest:full-path="content.xml" manifest:media-type="text/xml"/></manifest:manifest>"""
    val out = new java.util.zip.ZipOutputStream(Files.newOutputStream(path))
    try {
      // per the ODF spec the mimetype entry comes first, uncompressed
      val mime = "application/vnd.oasis.opendocument.spreadsheet".getBytes(UTF_8)
      val e = new java.util.zip.ZipEntry("mimetype")
      e.setMethod(java.util.zip.ZipEntry.STORED)
      e.setSize(mime.length)
      val crc = new java.util.zip.CRC32(); crc.update(mime); e.setCrc(crc.getValue)
      out.putNextEntry(e); out.write(mime); out.closeEntry()
      out.putNextEntry(new java.util.zip.ZipEntry("META-INF/manifest.xml"))
      out.write(manifest.getBytes(UTF_8)); out.closeEntry()
      out.putNextEntry(new java.util.zip.ZipEntry("content.xml"))
      out.write(content.getBytes(UTF_8)); out.closeEntry()
    } finally out.close()
  }
}
