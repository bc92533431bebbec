package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.api.Graft
import graft.functions.{GraftFunctions => G}
import graft.ingest.Ingest

/** A generated input file and the contract-violation report the
  * pipeline must produce for it: (check, column) -> count, counts > 0.
  */
final case class IngestInput(path: String, rows: Long, records: Long,
    violations: Map[(String, String), Long])

/** agrobr-shaped ingest pipeline: scan → normalize → (reshape) → cast to
  * the contract → `Graft.validate` → collect. Each run takes the next
  * seeded input; the violation report is checked against the
  * generator's model on every run.
  */
final class IngestOp(ctx: Ctx, val name: String, inputs: IndexedSeq[IngestInput],
    pipeline: (Ctx, String) => (DataFrame, DataFrame)) extends Op {
  val family = "ingest"
  /** Raw records scanned per run (the unit of `ingest.rows_per_s`). */
  val rowsPer: Double = inputs.map(_.records).sum.toDouble / inputs.size

  private def report(in: IngestInput): (DataFrame, Option[String]) = {
    val (typed, violations) = pipeline(ctx, in.path)
    val got = ctx.tracer.span("validate.collect", "validate") { violations.collect() }
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    (typed, if (got == in.violations) None
      else Some(s"violations $got != expected ${in.violations} for ${in.path}"))
  }

  def run(c: Client): Option[String] = {
    ctx.group(c.opId)
    report(inputs(c.rnd.nextInt(inputs.size)))._2
  }

  /** Also checks the typed row count, once. */
  override def warm(c: Client): Option[String] = {
    ctx.group(c.opId)
    val (typed, err) = report(inputs.head)
    err.orElse {
      val n = typed.count()
      if (n == inputs.head.rows) None else Some(s"rows $n != expected ${inputs.head.rows}")
    }
  }
}

object IngestOps {

  private val produtos = Seq("Soja", "  milho ", "café arábica", "Boi  Gordo", "AÇÚCAR cristal")
  private val pracas = Seq("paranaguá", "SÃO PAULO", "maringá ", "cascavel", "Rio Verde")

  private def br(v: Double): String = {
    val s = f"${math.abs(v)}%.4f"
    val (i, d) = s.splitAt(s.indexOf('.'))
    val grouped = i.reverse.grouped(3).mkString(".").reverse
    (if (v < 0) "-" else "") + grouped + "," + d.drop(1)
  }

  /** BR CSV in the `cepea.indicador` shape: `;`-separated, latin-1,
    * comma decimals with dot thousands, dd/MM/yyyy dates; about 1% of
    * rows carry a negative price, a missing product, date or unit.
    */
  def writeCsv(path: Path, rows: Int, rnd: scala.util.Random): IngestInput = {
    val sb = new StringBuilder("data;produto;praca;valor;unidade;variacao_percentual\n")
    var negVal, noProd, noDate, noUnit = 0L
    (0 until rows).foreach { _ =>
      val d = java.time.LocalDate.of(2015, 1, 1).plusDays(rnd.nextInt(3650).toLong)
      val date = if (rnd.nextInt(200) == 0) { noDate += 1; "" }
        else f"${d.getDayOfMonth}%02d/${d.getMonthValue}%02d/${d.getYear}"
      val prod = if (rnd.nextInt(200) == 0) { noProd += 1; "" }
        else produtos(rnd.nextInt(produtos.size))
      val v = rnd.nextDouble() * 5000.0 + 10.0
      val valor = if (rnd.nextInt(100) == 0) { negVal += 1; br(-v) } else br(v)
      val unit = if (rnd.nextInt(300) == 0) { noUnit += 1; "" } else "R$/sc 60kg"
      sb.append(s"$date;${prod};${pracas(rnd.nextInt(pracas.size))};$valor;$unit;${br(rnd.nextGaussian() * 2.0)}\n")
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.ISO_8859_1))
    IngestInput(path.toString, rows.toLong, rows.toLong, Map(
      ("not_null", "data") -> noDate, ("not_null", "produto") -> noProd,
      ("min_value", "valor") -> negVal, ("not_null", "unidade") -> noUnit).filter(_._2 > 0))
  }

  def csvPipeline(ctx: Ctx, path: String): (DataFrame, DataFrame) = {
    val raw = ctx.tracer.span("ingest.csvScanBr", "ingest") {
      Ingest.csvScanBr(ctx.spark, path, brDecimalCols = Seq("valor", "variacao_percentual"))
    }
    val norm = raw
      .withColumn("data", G.parseDateMulti(col("data")))
      .withColumn("produto", G.normalizeWs(G.stripAccents(lower(col("produto")))))
      .withColumn("praca", G.titleCasePt(G.normalizeWs(col("praca"))))
    val typed = Graft.contract("cepea.indicador").castTo(norm)
    (typed, Graft.validate(typed, "cepea.indicador"))
  }

  private val variaveis = Seq("area_plantada", "area_colhida", "producao", "rendimento")

  /** SIDRA-shaped long JSON (`ibge.pam`): row 0 is the header record
    * naming the D*N/V columns, then one row per (município, ano,
    * produto, variável) with string values, SIDRA's "-" and "..."
    * missing markers, about 1% negative values and a few out-of-range
    * years.
    */
  def writeJson(path: Path, municipios: Int, rnd: scala.util.Random): IngestInput = {
    val sb = new StringBuilder(
      """{"D1N":"localidade","D2N":"ano","D3N":"variavel","D4N":"produto","V":"valor"}""" + "\n")
    val neg = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var badYears, combos = 0L
    val prods = Seq("Soja (em grão)", "Milho (em grão)", "Café (em grão) Total", "Cana-de-açúcar")
    (0 until municipios).foreach { m =>
      // odd municipalities arrive NFD-decomposed; NFC folds them back
      val muni = (if (m % 2 == 0) "Município" else "Munici\u0301pio") + s"  ${m % 97} - UF${m % 27}"
      Seq(2019, 2020, 2021, 2022, 2023).foreach { y0 =>
        val ano = if (rnd.nextInt(250) == 0) { badYears += 1; 1950 + y0 % 10 } else y0
        prods.foreach { p =>
          combos += 1
          variaveis.foreach { v =>
            val valor = rnd.nextInt(100) match {
              case 0 => "-"
              case 1 => "..."
              case 2 => neg(v) += 1; s"-${rnd.nextInt(9000) + 1}"
              case _ => s"${rnd.nextInt(90000) + 1}"
            }
            sb.append(s"""{"D1N":"$muni #$m","D2N":"$ano","D3N":"$v","D4N":"$p","V":"$valor"}""").append('\n')
          }
        }
      }
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
    val yearViol = if (badYears > 0) Map(("min_value", "ano") -> badYears * prods.size) else Map.empty
    IngestInput(path.toString, combos, combos * variaveis.size,
      (variaveis.map(v => ("min_value", v) -> neg(v)).toMap ++ yearViol).filter(_._2 > 0))
  }

  def jsonPipeline(ctx: Ctx, path: String): (DataFrame, DataFrame) = {
    val raw = ctx.tracer.span("ingest.jsonLongScan", "ingest") {
      Ingest.jsonLongScan(ctx.spark, path)
    }
    val long = raw
      .withColumn("localidade", G.normalizeWs(G.nfcNormalize(col("localidade"))))
      .withColumn("valor", col("valor").try_cast(DoubleType))
    val wide = long.groupBy("localidade", "ano", "produto")
      .pivot("variavel", variaveis).agg(first(col("valor")))
    val typed = Graft.contract("ibge.pam").castTo(wide)
    (typed, Graft.validate(typed, "ibge.pam"))
  }
}
