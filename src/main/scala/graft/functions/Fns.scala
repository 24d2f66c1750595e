package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Scalar function library — the reference's entire "UDF" surface
  * (SURVEY.md §2.8/§2.11) re-expressed as pure built-in Catalyst expression
  * compositions. No `udf()` anywhere: every helper stays inside whole-stage
  * codegen and is usable at 100 TB without serialization overhead.
  *
  * Cross-engine numeric convention (DuckDB-oracle parity): aggregate doubles
  * by first casting to DECIMAL(18,6) (exact, order-independent sum), then a
  * single cast of the final value back to DOUBLE. Identical bit patterns on
  * both engines regardless of partitioning / summation order — which is also
  * what makes results *deterministic across cluster sizes*.
  */
object Fns {

  /** Canonical exact-arithmetic carrier for double measures. */
  val Dec: DecimalType = DecimalType(18, 6)

  /** F7: coerce a double measure to the exact carrier. */
  def dec(c: Column): Column = c.cast(Dec)

  /** Exact order-independent sum of a double column, emitted as DOUBLE. */
  def sumExact(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Average = exact decimal sum, one double division. Matches DuckDB's
    * AVG(CAST(x AS DECIMAL(18,6))) bit-for-bit. */
  def avgExact(c: Column): Column = sum(dec(c)).cast(DoubleType) / count(c)

  /** F1: TO_CHAR(date,'YYYY-MM') — month key string; zero-padded so
    * lexicographic order == chronological order (schema_star.sql:111). */
  def monthKey(c: Column): Column = date_format(c, "yyyy-MM")

  /** F2: ROUND(x, 2) — HALF_UP like Postgres numeric rounding. Routed
    * through the DECIMAL(18,6) carrier: Spark's round(double, 2) rounds the
    * shortest decimal repr while DuckDB's ROUND(double, 2) scales the binary
    * value, so the two can disagree on repr-boundary values like 1.005;
    * rounding the decimal on BOTH sides (oracle: ROUND(CAST(x AS
    * DECIMAL(18,6)), 2)) is bit-identical for |x| < 1e9. */
  def round2(c: Column): Column = round(dec(c), 2).cast(DoubleType)

  /** F3: NULLIF(x, 0) — division-by-zero guard (schema_star.sql:123,144). */
  def nullIfZero(c: Column): Column = when(c === 0, lit(null)).otherwise(c)

  /** F5: month-over-month percent change ((cur-prev)/prev)*100
    * (/root/reference/README.md:10); NULL when prev is 0 or NULL. */
  def pctChange(cur: Column, prev: Column): Column =
    (cur - prev) / nullIfZero(prev) * 100

  /** F6: delta vs market mean (schema_star.sql:151-160). */
  def deltaVsMean(groupVar: Column, meanVar: Column): Column = groupVar - meanVar

  /** F8: MD5 row hash over pipe-joined canonical fields
    * (/root/reference/etl/etl_ida.py:124-131). Caller passes canonical string
    * forms; `concat_ws` treats NULL as empty like the reference's f-string
    * never sees None (records are pre-filtered). */
  def recordHash(cols: Column*): Column = md5(concat_ws("|", cols: _*))

  /** F9: strip + collapse internal whitespace
    * (/root/reference/etl/etl_ida.py:398-404). */
  def cleanText(c: Column): Column = regexp_replace(trim(c), "\\s+", " ")

  /** F10/F11 helper: exact-match standardization against a small literal map,
    * unknown values pass through (/root/reference/etl/etl_ida.py:406-420,
    * 179-192). The map is a fold-constant literal — no join, no shuffle. */
  def standardize(mapping: Map[String, String])(c: Column): Column = {
    val m = map(mapping.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    coalesce(element_at(m, c), c)
  }

  /** F10: economic-group name standardization map
    * (/root/reference/etl/etl_ida.py:406-420). */
  val groupNameMap: Map[String, String] = Map(
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

  def standardizeGroup(c: Column): Column = standardize(groupNameMap)(c)

  /** F11: long metric name -> code (/root/reference/etl/etl_ida.py:179-192). */
  val variableNameMap: Map[String, String] = Map(
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

  def standardizeVariable(c: Column): Column = standardize(variableNameMap)(c)

  /** F12: locale number parse — ','->'.', strip '%', null on failure
    * (/root/reference/etl/etl_ida.py:422-429). Requires ANSI off
    * (Session.scala) for null-on-failure cast semantics. */
  def parseLocaleNumber(c: Column): Column =
    regexp_replace(regexp_replace(trim(c), "%", ""), ",", ".").cast(DoubleType)

  /** F13: month-start date from any date/timestamp. */
  def monthStart(c: Column): Column = trunc(c, "MM")

  /** F14: calendar derivations (/root/reference/etl/etl_ida.py:574-579). */
  def trimestre(c: Column): Column = quarter(c)
  def semestre(c: Column): Column = (((month(c) - 1) / 6) + 1).cast(IntegerType)

  /** F15: pt-BR month names via literal map — never JVM-locale-dependent
    * (/root/reference/etl/etl_ida.py:561-565). */
  private val ptBrMonths = Seq(
    "Janeiro", "Fevereiro", "Março", "Abril", "Maio", "Junho", "Julho",
    "Agosto", "Setembro", "Outubro", "Novembro", "Dezembro")

  def ptBrMonthName(monthCol: Column): Column = {
    val m = map(ptBrMonths.zipWithIndex.flatMap {
      case (n, i) => Seq(lit(i + 1), lit(n))
    }: _*)
    element_at(m, monthCol.cast(IntegerType))
  }

  /** Canonical 2-dp money string for hashing (replaces the reference's
    * Python str(float) — internal consistency is what matters, SURVEY §7.3). */
  def money2(c: Column): Column = c.cast(DecimalType(18, 2)).cast(StringType)

  /** Explicit single-partition window key.
    *
    * A window with an EMPTY partition spec makes WindowExec log "No
    * Partition Defined" — noise that buries real accidental global windows.
    * For series that are single-partition BY DESIGN (cardinality-bounded
    * post-aggregation frames), partition by this instead: `pmod(hash(x), 1)`
    * is 0 for every row (hash never returns null), so the semantics are
    * identical to a global window, but the partition spec is non-empty and
    * the choice is visible in the plan. A plain `lit(0)` does NOT work —
    * the optimizer strips foldable partition expressions and the empty-spec
    * warning returns; `hash(anchor)` is non-foldable because it references
    * a column. Callers MUST have a documented row-count bound. */
  def singlePartitionKey(anchor: Column): Column = pmod(hash(anchor), lit(1))
}
