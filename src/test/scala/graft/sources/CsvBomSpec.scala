package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkSpec

/** utf-8-sig input (pandas' `encoding='utf-8-sig'`, the reference's
  * landing format): every CSV entry point returns the first header name
  * without the leading BOM — Hadoop's line reader drops a BOM at file
  * start, so no reader needs a rename pass of its own. */
class CsvBomSpec extends SparkSpec {

  private val Bom = "﻿"

  private def bomFile(p: java.nio.file.Path, text: String): String = {
    Files.createDirectories(p.getParent)
    Files.write(p, (Bom + text).getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  test("read, readPartitioned and consolidate return BOM-free header " +
      "names for BOM-prefixed files") {
    val dir = scratch(s"csv_bom_${System.nanoTime()}")
    val a = bomFile(dir.resolve("flat/a.csv"), "cidade;valor\nx;1,5\n")
    val b = bomFile(dir.resolve("flat/b.csv"), "cidade;valor\ny;2,0\n")
    bomFile(dir.resolve("part/ano=2020/c.csv"), "cidade;valor\nz;3,0\n")
    val reads = Map(
      "read" -> CsvIngest.read(spark, a),
      "read(paths)" -> CsvIngest.read(spark, Seq(a, b), ";"),
      "readPartitioned" ->
        CsvIngest.readPartitioned(spark, dir.resolve("part").toString),
      "consolidate" -> CsvIngest.consolidate(spark, Seq(a, b)))
    val withBom = reads.collect { case (n, df)
      if df.columns.exists(_.contains(Bom)) => s"$n: ${df.columns.toSeq}" }
    assert(withBom.isEmpty, withBom.mkString("; "))
    reads.values.foreach(df => assert(df.columns.head == "cidade"))
    assert(reads("consolidate").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("x", "y"))
  }
}
