package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Caching
import graft.functions.{NormalizeText, ParseBRL, TextFns}
import graft.sources.{CsvIngest, ParquetSink}

/** `royalty_etl`: the source paper's dataflow over seeded monthly portal
  * files. One closed-loop client runs back-to-back passes; a pass is
  * CsvIngest.consolidate per (municipality, year) → normalize_text +
  * keywordAny (fused by KeywordFilterFusion) → parseBRL → per-creditor
  * totals, monthly totals + z-score anomalies → partitioned BOM CSV and
  * parquet sinks. Every pass is checked against the generator's exact
  * totals, malformed-line counts and anomaly sets. */
object RoyaltyEtl extends Workload {
  val name = "royalty_etl"
  val setupReps = 3

  /** Municipality → portal family (true: the Serigy portal). */
  val Municipalities: Seq[(String, Boolean)] = Seq("aracaju" -> true,
    "barra_dos_coqueiros" -> true, "pirambu" -> true, "pacatuba" -> false)

  /** Canonical (data, credor, fonte, valor) column names per portal. */
  private def canon(serigy: Boolean): Seq[String] =
    if (serigy) Seq("Data", "Credor", "Fonte de Recurso", "Valor")
    else Seq("data_pagamento", "credor", "fonte_recurso", "valor_pago")

  /** Header per portal, before and after the mid-year column drift. */
  private def header(serigy: Boolean, drifted: Boolean): Seq[String] =
    (serigy, drifted) match {
      case (true, false) => Seq("Data", "Empenho", "Credor",
        "Fonte de Recurso", "Valor")
      case (true, true) => Seq("Empenho", "Data", "Credor", "Valor",
        "Fonte de Recurso", "Histórico")
      case (false, false) => Seq("fonte_recurso", "empenho", "credor",
        "data_pagamento", "valor_pago")
      case (false, true) => Seq("fonte_recurso", "empenho", "credor",
        "data_pagamento", "valor_pago", "valor_retido", "historico")
    }

  /** Funding-source strings, labelled by what they ARE: royalty money
    * (oil/gas compensation and its budget codes) or not. The oracle
    * uses these labels, never graft's normalizer. */
  val Fontes: Seq[(String, Boolean)] = Seq(
    "Royalties do Petróleo" -> true,
    "ROYALTIES - LEI 7.990/89" -> true,
    "Royalty Petróleo e Gás Natural" -> true,
    "Compensação Financeira - PETRÓLEO" -> true,
    "15300000 - Transferência da União" -> true,
    "Fonte 17060000 - Participação Especial" -> true,
    "Petróleo: participação especial (royaltie)" -> true,
    "Recursos Ordinários" -> false,
    "FUNDEB - 70% Profissionais do Magistério" -> false,
    "Transferências Fundo a Fundo - SUS" -> false,
    "Cota-Parte do ICMS" -> false,
    "Receita Própria - Tributária" -> false,
    "Convênio Estadual nº 12/2023" -> false,
    "Salário-Educação" -> false,
    "Operações de Crédito Internas" -> false,
    "Fonte 15000000 - Recursos não Vinculados" -> false)

  private val CredorParts1 = Seq("CONSTRUTORA", "AUTO POSTO", "CLÍNICA",
    "DISTRIBUIDORA", "GRÁFICA", "SERVIÇOS MÉDICOS", "COMÉRCIO", "LOCADORA")
  private val CredorParts2 = Seq("ARAÚJO", "SÃO JOSÉ", "CONCEIÇÃO", "ÁGUA VIVA",
    "BRASÍLIA", "PIRAMBU", "ITAÚNA", "JAPARATUBA", "ATALAIA")

  /** One (municipality, year) slice: twelve monthly files. */
  final case class MunYear(mun: String, serigy: Boolean, year: Int,
                           files: Seq[String], rows: Long, bytes: Long)

  final case class State(units: Seq[MunYear], outRoot: String,
                         totals: Map[(String, Int, String), Long],
                         malformed: Map[(String, Int), Long],
                         anomalies: Map[(String, Int), Map[(String, Int), Double]],
                         fonteStrings: Array[String],
                         valorStrings: Array[String])

  private def brl(cents: Long, style: Int): String = {
    val reais = cents / 100
    val grouped = reais.toString.reverse.grouped(3).mkString(".").reverse
    val body = f"$grouped,${cents % 100}%02d"
    style match {
      case 0 => s"R$$ $body"
      case 1 => body
      case 2 => s"R$$$body"
      case _ => s" R$$ $body "
    }
  }

  def setup(ctx: Ctx): State = {
    val rnd = new scala.util.Random(ctx.seed)
    val years = if (ctx.tiny) Seq(2023) else Seq(2023, 2024)
    val rowsPerFile = if (ctx.tiny) 8 else 40
    val inRoot = Paths.get(ctx.path("etl_in"))
    val totals = mutable.HashMap.empty[(String, Int, String), Long]
    val monthly = mutable.HashMap.empty[(String, Int, String, Int), Long]
    val malformed = mutable.HashMap.empty[(String, Int), Long]
    val fontes = mutable.ArrayBuffer.empty[String]
    val valores = mutable.ArrayBuffer.empty[String]
    var rows = 0L
    var royaltyRows = 0L
    var bytes = 0L
    val units = for ((mun, serigy) <- Municipalities; year <- years) yield {
      val credores = Seq.fill(12)(
        s"${CredorParts1(rnd.nextInt(CredorParts1.size))} " +
          s"${CredorParts2(rnd.nextInt(CredorParts2.size))} " +
          s"${mun.take(3).toUpperCase}${rnd.nextInt(90) + 10} LTDA").distinct
      malformed((mun, year)) = 0L
      val rows0 = rows
      val bytes0 = bytes
      val files = (1 to 12).map { month =>
        val drifted = month > 6
        val hdr = header(serigy, drifted)
        val cols = canon(serigy)
        val lines = (0 until rowsPerFile).map { _ =>
          val credor = credores(rnd.nextInt(credores.size))
          val (fonte, royalty) = Fontes(rnd.nextInt(Fontes.size))
          val base = math.exp(math.log(1000) + rnd.nextDouble() *
            (math.log(5e7) - math.log(1000))).toLong
          val cents = if (rnd.nextDouble() < 0.03) base * 25 else base
          val date = f"${rnd.nextInt(28) + 1}%02d/$month%02d/$year"
          val valor = brl(cents, rnd.nextInt(4))
          val broken = rnd.nextDouble() < 0.02
          val values = Map(cols(0) -> date, cols(1) -> credor,
            cols(2) -> fonte, cols(3) -> (if (broken && rnd.nextBoolean())
              Seq("R$ ---", "N/D", "12,34,56")(rnd.nextInt(3)) else valor))
          val fields = hdr.map(h => values.getOrElse(h,
            if (h.toLowerCase.startsWith("emp")) f"$year/${rnd.nextInt(9999)}%04d"
            else if (h == "valor_retido") "R$ 0,00"
            else s"pagamento ${rnd.nextInt(500)}"))
          rows += 1
          fontes += fonte
          valores += valor
          if (broken) {
            malformed((mun, year)) += 1
            // either a line cut after its first two fields, or a whole
            // line whose amount is unparseable
            if (values(cols(3)) == valor) fields.take(2).mkString(";")
            else fields.mkString(";")
          } else {
            if (royalty) {
              royaltyRows += 1
              totals((mun, year, credor)) =
                totals.getOrElse((mun, year, credor), 0L) + cents
              monthly((mun, year, credor, month)) =
                monthly.getOrElse((mun, year, credor, month), 0L) + cents
            }
            fields.mkString(";")
          }
        }
        val f = inRoot.resolve(mun).resolve(s"${mun}_royalties_${year}_$month.csv")
        Files.createDirectories(f.getParent)
        val body = (hdr.mkString(";") +: lines).mkString("", "\r\n", "\r\n")
        val bs = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
          body.getBytes(StandardCharsets.UTF_8)
        Files.write(f, bs)
        bytes += bs.length
        f.toString
      }
      MunYear(mun, serigy, year, files, rows - rows0, bytes - bytes0)
    }
    val anomalies = monthly.groupBy { case ((m, y, _, _), _) => (m, y) }
      .map { case (key, entries) => key -> zAnomalies(entries.toMap) }
    Facts.emit("input", Map("workload" -> name, "rows" -> rows,
      "bytes" -> bytes, "files" -> units.map(_.files.size).sum,
      "municipalities" -> Municipalities.size, "years" -> years.size,
      "rows_per_file" -> rowsPerFile,
      "royalty_row_share" -> royaltyRows.toDouble / rows,
      "malformed_line_share" -> malformed.values.sum.toDouble / rows))
    State(units, ctx.path("etl_out"), totals.toMap, malformed.toMap,
      anomalies, fontes.toArray, valores.toArray)
  }

  /** Unchecked passes before the measured ones: JIT, codegen caches and
    * reader initialization keep speeding passes up for several passes
    * (measured 5.0 → 3.2 s over the first six). */
  val WarmupPasses = 3
  def warmup(ctx: Ctx, st: State): Unit =
    st.units.take(WarmupPasses).foreach(pass(ctx, st, _, check = false))

  /** The oracle's anomaly rule in plain Scala: per creditor, months whose
    * total sits more than [[ZLimit]] sample standard deviations from the
    * creditor's mean monthly total. Returns (credor, month) → z. */
  val ZLimit = 2.0
  private def zAnomalies(m: Map[(String, Int, String, Int), Long])
      : Map[(String, Int), Double] =
    m.groupBy(_._1._3).flatMap { case (credor, byMonth) =>
      val xs = byMonth.values.map(_ / 100.0).toSeq
      if (xs.size < 2) Nil
      else {
        val mean = xs.sum / xs.size
        val sd = math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum /
          (xs.size - 1))
        if (sd <= 0) Nil
        else byMonth.toSeq.map { case ((_, _, _, month), c) =>
          (credor, month) -> (c / 100.0 - mean) / sd
        }.filter(p => math.abs(p._2) > ZLimit - 1e-6)
      }
    }

  final case class PassOut(passS: Double, consolidateS: Double, sinkS: Double)

  /** One pass over one (municipality, year) slice: its twelve monthly
    * files from consolidation to both sinks. */
  private def pass(ctx: Ctx, st: State, u: MunYear, check: Boolean): PassOut = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val t0 = System.nanoTime()
    var consolidateS = 0.0
    var sinkS = 0.0
    tr.span("etl.pass") {
      Caching.scoped {
        val c0 = System.nanoTime()
        val raw = tr.span("sources.consolidate") {
          CsvIngest.consolidate(spark, u.files)
        }
        consolidateS = (System.nanoTime() - c0) / 1e9
        val cs = canon(u.serigy)
        val parsed = raw.select(col(cs(0)).as("data"), col(cs(1)).as("credor"),
            col(cs(2)).as("fonte"), col(cs(3)).as("valor_raw"),
            lit(u.mun).as("cidade"), lit(u.year).as("ano"))
          .withColumn("valor", TextFns.parseBRL(col("valor_raw")))
        val royalty = parsed
          .filter(TextFns.keywordAny(TextFns.normalizeText(col("fonte")),
            TextFns.royaltyTerms) && col("valor").isNotNull)
          .select(col("cidade"), col("ano"),
            substring(col("data"), 4, 2).cast("int").as("mes"),
            col("credor"), col("valor"))
        if (tr.enabled) {
          val plan = tr.span("plans.optimize") {
            royalty.queryExecution.optimizedPlan
          }
          fusionHits = plan.collect { case n => n.expressions.map(_.collect {
            case r: org.apache.spark.sql.catalyst.expressions.RLike => r
          }.size).sum }.sum
        }
        val kept = Caching.cached(royalty)
        val byCred = Window.partitionBy(col("credor"))
        val monthly = kept.groupBy(col("cidade"), col("ano"), col("credor"),
            col("mes"))
          .agg(sum(col("valor")).as("total"))
          .withColumn("t", col("total").cast("double"))
          .withColumn("sd", stddev_samp(col("t")).over(byCred))
          .withColumn("z", when(col("sd") > 0,
            (col("t") - avg(col("t")).over(byCred)) / col("sd")))
        val (bad, totals, anomalies) = tr.span("etl.aggregate") {
          (parsed.filter(col("valor").isNull).count(),
            kept.groupBy(col("credor")).agg(sum(col("valor"))).collect(),
            monthly.filter(abs(col("z")) > ZLimit)
              .select(col("credor"), col("mes"), col("z")).collect())
        }
        val s0 = System.nanoTime()
        tr.span("sources.csv_write") {
          CsvIngest.write(kept, s"${st.outRoot}/csv/${u.mun}_${u.year}",
            partitionCols = Seq("cidade", "ano"), bom = true)
        }
        tr.span("sources.parquet_write") {
          ParquetSink.write(monthly.drop("t", "sd"),
            s"${st.outRoot}/parquet/${u.mun}_${u.year}",
            partitionBy = Seq("cidade"), sortCols = Seq("credor", "mes"))
        }
        sinkS = (System.nanoTime() - s0) / 1e9
        if (check) tr.span("bench.check") {
          checkSlice(ctx, st, u, bad,
            totals.map(r => r.getString(0) -> r.getDecimal(1)).toMap,
            anomalies.map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2))
              .toMap)
        }
      }
    }
    PassOut((System.nanoTime() - t0) / 1e9, consolidateS, sinkS)
  }

  private def checkSlice(ctx: Ctx, st: State, u: MunYear, bad: Long,
                         got: Map[String, java.math.BigDecimal],
                         anomalies: Map[(String, Int), Double]): Unit = {
    val slice = (u.mun, u.year)
    val malformed = st.malformed(slice)
    ctx.check(if (bad == malformed) None
      else Some(s"malformed lines $slice: got $bad, expected $malformed"))
    val totals = st.totals.collect {
      case ((m, y, credor), cents) if (m, y) == slice => credor -> cents
    }
    val expected = if (ctx.wrongTotal && u == st.units.head) {
      val k = totals.keys.min
      totals.updated(k, totals(k) + 1)
    } else totals
    expected.foreach { case (credor, cents) =>
      val e = java.math.BigDecimal.valueOf(cents, 2)
      ctx.check(got.get(credor) match {
        case Some(g) if g.compareTo(e) == 0 => None
        case other => Some(s"royalty total $slice $credor: got $other, " +
          s"expected $e")
      })
    }
    ctx.check((got.keySet -- expected.keySet).headOption
      .map(c => s"royalty total for unexpected creditor $slice $c"))
    val exp = st.anomalies.getOrElse(slice, Map.empty)
    // months within 1e-6 of the limit may fall either way under
    // floating-point summation order; every other month must agree
    val strict = exp.filter(e => math.abs(math.abs(e._2) - ZLimit) > 1e-6)
    val missing = strict.keySet -- anomalies.keySet
    val extra = anomalies.keySet -- exp.keySet
    val off = anomalies.collect { case (k, z) if exp.contains(k) &&
      math.abs(z - exp(k)) > 1e-9 * math.max(1.0, math.abs(z)) => k }
    ctx.check(if (missing.isEmpty && extra.isEmpty && off.isEmpty) None
      else Some(s"anomalies $slice: missing $missing, extra $extra, " +
        s"z mismatch $off"))
  }

  def run(ctx: Ctx, st: State, seconds: Double): RunOut = {
    val passes = mutable.ArrayBuffer.empty[PassOut]
    val seen = mutable.LinkedHashSet.empty[MunYear]
    val engine = new EngineProbe(ctx)
    Clients.closedLoop(ctx, 1, seconds) { (_, i) =>
      val u = st.units(i % st.units.size)
      passes += pass(ctx, st, u, check = true)
      seen += u
      engine.afterOp()
    }
    val inRows = passes.indices.map(i => st.units(i % st.units.size).rows).sum
    val inBytes = seen.toSeq.map(_.bytes).sum
    val extras = mutable.HashMap.empty[String, Double]
    if (ctx.tracer.enabled) {
      extras("sources.consolidate.files") =
        passes.indices.map(i => st.units(i % st.units.size).files.size).sum
      extras("functions.normalize.ns_per_row") =
        MicroTimer.nsPerCall(st.fonteStrings)(NormalizeText.normalize)
      extras("functions.parse_brl.ns_per_row") =
        MicroTimer.nsPerCall(st.valorStrings)(ParseBRL.parse)
      extras("plans.keyword_fusion.hits") = fusionHits.toDouble
      extras ++= engine.stop()
    }
    Facts.emit("etl", Map("passes" -> passes.size,
      "pass_s" -> passes.map(_.passS).toSeq,
      "consolidate_s" -> passes.map(_.consolidateS).toSeq,
      "sink_s" -> passes.map(_.sinkS).toSeq))
    val passMs = Stats.median(passes.map(_.passS).toSeq) * 1e3
    RunOut(
      Seq(("main_op_p50_ms", passMs, "ms"),
        ("work_rate_per_s", inRows / passes.map(_.passS).sum, "1/s"),
        ("stored_bytes_per_input_byte",
          Disk.dataBytes(Paths.get(st.outRoot)).toDouble / inBytes, "ratio")),
      extras.toMap)
  }

  /** RLike nodes in the last traced pass's optimized royalty plan: how
    * many keyword OR-chains KeywordFilterFusion collapsed. */
  @volatile private var fusionHits = 0
}
