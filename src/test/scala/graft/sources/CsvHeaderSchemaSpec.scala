package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.types.StructType
import org.scalacheck.Gen

import graft.SparkSpec

/** Differential spec for the job-free header schema: for any header
  * line, the schema the sniffed read builds without a job must equal
  * the one Spark's own header inference (a job) gives the same file,
  * once the BOM is stripped from the first name. Generated headers mix
  * quoted names holding the separator or a quote, duplicates, names
  * that differ only in case, empty names, BOM / no BOM, CRLF / LF and
  * leading blank lines; raw Gen sampling, fixed seeds. */
class CsvHeaderSchemaSpec extends SparkSpec {

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default.withSize(12),
      org.scalacheck.rng.Seed(seed)).get

  private val seps = Seq(';', ',', '\t', '|')
  private val Bom = "﻿"

  /** Spark's own inference: one header-inference job on the file. */
  private def sparkSchema(file: String, sep: Char): StructType = {
    val s = spark.read.option("header", "true").option("sep", sep.toString)
      .option("encoding", "UTF-8").csv(file).schema
    StructType(s.fields.map(f => f.copy(name = f.name.stripPrefix(Bom))))
  }

  /** The sniffed read's schema, without the corrupt-record column. */
  private def sniffedSchema(file: String, sampleBytes: Int = 8192): StructType =
    StructType(CsvIngest.readSniffed(spark, file, sampleBytes).schema
      .fields.filterNot(_.name == CsvIngest.CorruptCol))

  /** One header field as it appears on the line. */
  private def genField(sep: Char, earlier: Seq[String]): Gen[String] = {
    val plain = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val quotedSep = for (a <- plain; b <- plain) yield s""""$a$sep$b""""
    val quotedQuote = for (a <- plain; b <- plain) yield s""""$a""$b""""
    val again = if (earlier.isEmpty) plain else Gen.oneOf(earlier)
    val caseFlip = if (earlier.isEmpty) plain
      else Gen.oneOf(earlier).map(n =>
        n.map(c => if (c.isUpper) c.toLower else c.toUpper))
    Gen.frequency(4 -> plain, 1 -> quotedSep, 1 -> quotedQuote,
      2 -> again, 2 -> caseFlip, 1 -> Gen.const(""))
  }

  private def genFile(sep: Char): Gen[String] = for {
    // two or more columns, so the sniffer has a separator to find
    nCols <- Gen.choose(2, 7)
    fields <- (0 until nCols).foldLeft(Gen.const(Vector.empty[String])) {
      (acc, _) => acc.flatMap(fs => genField(sep, fs).map(fs :+ _))
    }
    bom <- Gen.oneOf(true, false)
    eol <- Gen.oneOf("\n", "\r\n")
    blanks <- Gen.choose(0, 2).map(Seq.fill(_)(""))
    nRows <- Gen.choose(0, 3)
  } yield {
    val rows = Seq.tabulate(nRows)(r =>
      Seq.tabulate(nCols)(c => s"v$r$c").mkString(sep.toString))
    (if (bom) Bom else "") +
      (blanks ++ (fields.mkString(sep.toString) +: rows)).mkString(eol) + eol
  }

  private def writeFile(name: String, body: String): String = {
    val dir = scratch("header_schema")
    Files.createDirectories(dir)
    val f = dir.resolve(name)
    Files.write(f, body.getBytes(StandardCharsets.UTF_8))
    f.toString
  }

  private def withCaseSensitive[A](on: Boolean)(body: => A): A = {
    val key = "spark.sql.caseSensitive"
    val saved = spark.conf.get(key)
    spark.conf.set(key, on.toString)
    try body finally spark.conf.set(key, saved)
  }

  test("job-free header schema equals Spark's inferred schema on " +
      "generated headers, caseSensitive off and on") {
    var checked = 0
    for (caseSensitive <- Seq(false, true); sep <- seps; rep <- 0 until 8) {
      val body = sample(genFile(sep), seed = sep.toLong * 1000 + rep)
      val file = writeFile(s"gen_${sep.toInt}_$rep.csv", body)
      withCaseSensitive(caseSensitive) {
        val want = sparkSchema(file, sep)
        assert(CsvIngest.sniffSep(body) == sep.toString)
        assert(sniffedSchema(file) == want,
          s"sep '$sep' rep $rep caseSensitive=$caseSensitive header:\n" +
            body.linesIterator.take(4).mkString("\n"))
      }
      checked += 1
    }
    assert(checked == 2 * seps.size * 8)
  }

  test("hand-picked headers: duplicates, case-only duplicates, empty " +
      "names, quoted separators and quotes, BOM, blank lines") {
    val cases = Seq(
      "dup" -> "a;b;a;c\n1;2;3;4\n",
      "case_dup" -> "Valor;valor;VALOR\n1;2;3\n",
      "empty_names" -> ";x;;y;\n1;2;3;4;5\n",
      "quoted" -> "\"a;b\";\"say \"\"hi\"\"\";c\n1;2;3\n",
      "bom_dup" -> s"${Bom}a;a;b\r\n1;2;3\r\n",
      "bom_empty_first" -> s"$Bom;a;b\n1;2;3\n",
      "blank_lead" -> "\n   \r\n\nh1;h2\n1;2\n",
      "bom_blank_lead" -> s"$Bom\n\nh1;h2\n1;2\n")
    for (caseSensitive <- Seq(false, true); (name, body) <- cases) {
      val file = writeFile(s"pick_$name.csv", body)
      withCaseSensitive(caseSensitive) {
        assert(sniffedSchema(file) == sparkSchema(file, ';'),
          s"$name caseSensitive=$caseSensitive")
      }
    }
  }

  test("a header longer than the sample is read to its end, never " +
      "cut at the sample boundary") {
    val names = (0 until 1500).map(i => s"coluna_$i")
    val header = names.mkString(";")
    assert(header.getBytes(StandardCharsets.UTF_8).length > 8192)
    val rows = names.indices.mkString(";") + "\r\n"
    for ((name, body) <- Seq("long_header_bom.csv" -> (Bom + header),
        "long_header_blank_lead.csv" -> ("\r\n\r\n" + header))) {
      val file = writeFile(name, body + "\r\n" + rows)
      val want = sparkSchema(file, ';')
      assert(want.fieldNames.toSeq == names, name)
      assert(sniffedSchema(file) == want, name)
      // a tiny sample must grow the same way
      assert(sniffedSchema(file, sampleBytes = 16) == want, name)
    }
  }

  test("an empty file has no columns; a header-only file has its " +
      "header's columns") {
    val empty = writeFile("empty.csv", "")
    assert(sniffedSchema(empty) == sparkSchema(empty, ';'))
    assert(sniffedSchema(empty).isEmpty)
    val headerOnly = writeFile("header_only.csv", s"${Bom}a;b;c\r\n")
    assert(sniffedSchema(headerOnly) == sparkSchema(headerOnly, ';'))
    assert(sniffedSchema(headerOnly).fieldNames.toSeq == Seq("a", "b", "c"))
    val noEol = writeFile("header_no_eol.csv", "a;b")
    assert(sniffedSchema(noEol) == sparkSchema(noEol, ';'))
  }
}
