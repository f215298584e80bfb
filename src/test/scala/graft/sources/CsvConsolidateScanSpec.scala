package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.SparkSpec

/** Pins the cost shape of [[CsvIngest.consolidate]]: the call submits no
  * Spark job (the header schema comes from the sniffed header line) and
  * reads one scan per (separator, header) group, not one per file. */
class CsvConsolidateScanSpec extends SparkSpec {

  private val Bom = "﻿"

  /** Monthly files named by month, BOM'd and CRLF like the portals'. */
  private def writeMonths(dir: String, headers: Seq[Seq[String]])
      : Seq[String] = {
    val d = scratch(dir)
    Files.createDirectories(d)
    headers.zipWithIndex.map { case (hdr, i) =>
      val month = i + 1
      val row = hdr.map {
        case "mes" => f"$month%02d"
        case "valor" => s"${month * 100},00"
        case c => s"${c}_$month"
      }
      val f = d.resolve(f"royalties_2024_$month%02d.csv")
      Files.write(f, (Bom + Seq(hdr, row).map(_.mkString(";"))
        .mkString("", "\r\n", "\r\n")).getBytes(StandardCharsets.UTF_8))
      f.toString
    }
  }

  /** Spark jobs submitted while `body` runs on this thread. The probe
    * job after it is only seen once the listener bus has delivered every
    * earlier job, so a late-delivered job of `body` cannot be missed. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"jobs-during-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    val out = try body finally sc.clearJobGroup()
    val probe = s"$group-probe"
    sc.setJobGroup(probe, probe)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (sc.statusTracker.getJobIdsForGroup(probe).isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10)
    assert(sc.statusTracker.getJobIdsForGroup(probe).nonEmpty)
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  private def fileRelations(df: DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] => r
    }.size

  test("job counter sees a header-inference job (negative control)") {
    val paths = writeMonths("scan_control", Seq(Seq("mes", "valor")))
    val (_, jobs) = jobsDuring(CsvIngest.read(spark, paths, ";"))
    assert(jobs >= 1, "the inferring read must show up as a job")
  }

  test("twelve monthly files with a mid-year drift: no Spark job during " +
      "the call, two file scans in the plan") {
    val before = Seq("mes", "credor", "valor")
    val after = Seq("credor", "mes", "valor", "historico")
    val paths = writeMonths("scan_drift",
      Seq.fill(6)(before) ++ Seq.fill(6)(after))
    val (df, jobs) = jobsDuring(
      CsvIngest.consolidate(spark, paths, orderCol = Some("mes")))
    assert(jobs == 0, s"consolidate submitted $jobs Spark jobs")
    assert(fileRelations(df) == 2)
    assert(df.columns.toSeq == before :+ "historico")
    val rows = df.collect()
    assert(rows.map(_.getString(0).toInt).toSeq == (1 to 12))
    rows.foreach { r =>
      val m = r.getString(0).toInt
      assert(r.getString(1) == s"credor_$m" && r.getString(2) == s"${m * 100},00")
      assert(r.isNullAt(3) == (m <= 6))
    }
  }

  test("interleaved headers A, B, A, B: two scans, first-seen column " +
      "order, columns aligned by name, rows in orderCol order") {
    val a = Seq("mes", "credor", "valor")
    val b = Seq("valor", "fonte", "mes", "credor")
    val paths = writeMonths("scan_interleaved", Seq(a, b, a, b))
    val (df, jobs) = jobsDuring(
      CsvIngest.consolidate(spark, paths, orderCol = Some("mes")))
    assert(jobs == 0)
    assert(fileRelations(df) == 2)
    assert(df.columns.toSeq == Seq("mes", "credor", "valor", "fonte"))
    val rows = df.collect().map(r => (0 until 4).map(i =>
      Option(r.getString(i))))
    assert(rows.toSeq == (1 to 4).map { m =>
      Seq(Some(f"$m%02d"), Some(s"credor_$m"), Some(s"${m * 100},00"),
        if (m % 2 == 0) Some(s"fonte_$m") else None)
    })
  }
}
