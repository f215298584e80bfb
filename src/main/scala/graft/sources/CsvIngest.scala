package graft.sources

import com.univocity.parsers.csv.CsvParser
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.operators.Consolidate

/** S5/S6/K1–K3 — CSV ingest/sink parity with the reference's storage
  * layer.
  *
  * The reference lands per-month CSVs as `;`-separated, `utf-8-sig`
  * (BOM-prefixed) files (`aracaju_barra_pirambu_scraper.py:288-295`,
  * `pacatuba_scraper.py:236-243`) and re-reads them tolerantly —
  * `pd.read_csv(sep=None, engine='python', encoding='utf-8-sig',
  * on_bad_lines='warn')` (`file_utils.py:36-42`). Spark mapping:
  *
  *  - `;` separator, `header=true` as the default (the consolidator
  *    standardizes on `;` — `file_utils.py:56-57`); [[readSniffed]]
  *    adds the `sep=None` per-file dialect detection for mixed-dialect
  *    directories (`file_utils.py:36-42`);
  *  - PERMISSIVE mode + a corrupt-record column reproduces
  *    warn-and-continue (`on_bad_lines='warn'`): bad lines survive as a
  *    row with the raw text in `_corrupt` instead of failing the read;
  *  - utf-8-sig: Hadoop's line reader drops a BOM at file start, so
  *    BOM'd and plain files get identical header names with no rename
  *    pass (pandas' utf-8-sig does the same).
  *
  * Scale note: a multi-file CSV read is one partitioned scan (splittable
  * per-file). The sniffed reads run one scan per (separator, header)
  * group and build its schema from the sniffed header line, so they submit
  * no job; the union of the groups is no-shuffle. A grouped scan does
  * not keep file order: `orderCol` is [[consolidate]]'s order contract.
  */
object CsvIngest {
  val CorruptCol = "_corrupt"

  def read(spark: SparkSession, path: String, sep: String = ";"): DataFrame =
    read(spark, Seq(path), sep)

  /** Multi-path variant of [[read]] — one partitioned scan over an
    * explicit file list. The header schema comes from Spark's own
    * inference (one small job); [[readSniffed]] and [[consolidate]]
    * skip that job by building the schema from the sniffed header line
    * instead. */
  def read(spark: SparkSession, paths: Seq[String], sep: String): DataFrame =
    scan(spark, paths, sep, reader(spark, sep).csv(paths: _*).schema)

  private def reader(spark: SparkSession, sep: String) = spark.read
    .option("sep", sep)
    .option("header", "true")
    .option("encoding", "UTF-8")
    .option("mode", "PERMISSIVE")
    .option("columnNameOfCorruptRecord", CorruptCol)

  /** The PERMISSIVE scan proper: the corrupt-record column only
    * materializes when present in the schema, so it is appended to the
    * (all-string) header schema here. */
  private def scan(spark: SparkSession, paths: Seq[String], sep: String,
                   header: StructType): DataFrame =
    reader(spark, sep).schema(header.add(CorruptCol, StringType))
      .csv(paths: _*)

  /** Spark's header schema for a file whose first non-empty line is
    * `line`, built without a job by Spark's own inference rules
    * (`TextInputCSVDataSource.inferFromDataset` with
    * `inferSchema=false`): univocity-parse the line with the read's
    * parser settings, name the fields with `makeSafeHeader` (empty →
    * `_c<i>`, duplicates → `<name><i>`, case-folded unless
    * `spark.sql.caseSensitive`), all strings. No line → no columns. */
  private def headerSchema(spark: SparkSession, sep: String,
                           line: Option[String]): StructType = {
    val opts = new CSVOptions(Map("sep" -> sep, "header" -> "true",
      "encoding" -> "UTF-8"), true, spark.conf.get("spark.sql.session.timeZone"))
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
    line.flatMap(l => Option(new CsvParser(opts.asParserSettings).parseLine(l)))
      .fold(new StructType()) { row =>
        StructType(CSVUtils.makeSafeHeader(row, caseSensitive, opts)
          .map(StructField(_, StringType, nullable = true)).toSeq)
      }
  }

  /** Separator candidates the sniffer considers — the dialects the
    * reference's `pd.read_csv(sep=None, engine='python')` detector
    * covers in practice (`file_utils.py:36-42`). Order is the
    * preference on ties. */
  private val SepCandidates = Seq(';', ',', '\t', '|')

  /** Driver-side dialect sniff on a decoded head sample: the winning
    * separator appears a CONSISTENT non-zero number of times on every
    * sampled line (csv.Sniffer's core consistency heuristic) — among
    * consistent candidates the highest per-line count wins, then
    * [[SepCandidates]] order. Falls back to `;` (the reference's
    * standardized dialect) when nothing is consistent, e.g. a
    * single-column file. */
  private[graft] def sniffSep(sample: String,
                              truncated: Boolean = false): String = {
    // quoted fields are opaque to the dialect (a comma-CSV quoting
    // "R$ 3,00" must not count those commas — csv.Sniffer does the
    // same). Strip "…" spans GLOBALLY, before line-splitting: a quoted
    // field may legally contain newlines, and the strip collapses such
    // a multi-line record back to one logical line. An unterminated
    // quote (a truncated sample cut mid-field) is left as-is — that
    // fragment is the final line, dropped below.
    val cleaned = sample.stripPrefix("﻿")
      .replaceAll("(?s)\"[^\"]*\"", "")
    val all = cleaned.split("\r?\n", -1)
    // a TRUNCATED head sample ends mid-line: never score the final
    // fragment (a cut quote/field would skew its counts). A fully-read
    // file's last line is complete and counts.
    val lines = (if (truncated) all.dropRight(1) else all).iterator
      .filter(_.nonEmpty).take(10).toSeq
    val consistent = SepCandidates.flatMap { c =>
      val counts = lines.map(l => l.count(_ == c))
      if (counts.nonEmpty && counts.head > 0 && counts.distinct.size == 1)
        Some(c -> counts.head)
      else None
    }
    if (consistent.isEmpty) ";" else consistent.maxBy(_._2)._1.toString
  }

  /** S5 `sep=None` parity — PER-FILE dialect detection: sniff each
    * file's head sample driver-side (metadata-scale IO, same cost class
    * as the file listing itself), group files by (separator, HEADER
    * LINE), read each group in ONE partitioned scan, and drift-union
    * the groups (U1's `Consolidate`, align by name, missing → NULL).
    * Grouping by header matters: a multi-path Spark CSV scan maps
    * every file POSITIONALLY against the sampled schema, so two
    * same-separator files with reordered or drifted columns must land
    * in different scans for their columns to align by NAME — which is
    * exactly the per-file pandas semantics this operator reproduces at
    * Spark shape. A directory of mixed `,`/`;` monthly files with
    * drifting headers reads correctly instead of collapsing the
    * minority dialect into one-column rows or shuffling columns.
    *
    * `path` may be a file, a directory, or a glob. Hidden/metadata
    * entries (`_SUCCESS`, dotfiles) are skipped like Spark's own
    * listing does. Files are taken in path order, so the first-seen
    * column order does not depend on the listing order. */
  def readSniffed(spark: SparkSession, path: String,
                  sampleBytes: Int = 8192): DataFrame = {
    require(sampleBytes > 0, s"readSniffed: sampleBytes must be > 0, got $sampleBytes")
    val hadoopPath = new Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(hadoopPath))
      .getOrElse(Array.empty[org.apache.hadoop.fs.FileStatus])
    val files = matched.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath).filter(_.isFile)
      else Array(st)
    }.map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
    require(files.nonEmpty, s"readSniffed: no files match $path")
    Consolidate(readByDialect(spark, files.toSeq.sortBy(_.toString),
      sampleBytes))
  }

  /** The read path shared by [[readSniffed]] and [[consolidate]]: sniff
    * every file, group the files by (separator, header line) in
    * first-seen order, and read each group in ONE explicit-schema scan
    * whose header schema comes from the sniffed line ([[headerSchema]]),
    * so no Spark job runs. Every file in a group has the same columns in
    * the same order, which is what a positional multi-file scan needs. */
  private def readByDialect(spark: SparkSession, files: Seq[Path],
                            sampleBytes: Int): Seq[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dialects = files.map(f =>
      sniffFileDialect(f.getFileSystem(conf), f, sampleBytes))
    dialects.distinct.map { case d @ (sep, line) =>
      val group = files.zip(dialects).collect { case (f, `d`) => f.toString }
      scan(spark, group, sep, headerSchema(spark, sep, line))
    }
  }

  /** Read a Hive-partitioned CSV layout (`yr=1997/...csv`). No corrupt
    * column: an explicit schema containing partition columns confuses
    * partition discovery, so this path keeps inference (all-string data
    * columns + typed partition columns) and PERMISSIVE null-fill.
    * Partition-pruning: filters on the partition columns prune whole
    * directories at plan time (PartitionFilters in explain). */
  def readPartitioned(spark: SparkSession, path: String,
                      sep: String = ";"): DataFrame =
    spark.read
      .option("sep", sep)
      .option("header", "true")
      .option("encoding", "UTF-8")
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** S5 × W — the tolerant read at INGEST TIME: a streaming file source
    * with the same PERMISSIVE + corrupt-column contract as [[read]], for
    * pipelines that land monthly files continuously instead of in
    * batches. Streaming sources cannot infer schemas, so the DATA
    * schema is a parameter; the corrupt column is appended here. The
    * batch reader's column-pruning caveat applies doubly: downstream
    * corrupt accounting must consume full rows (a pruned aggregate
    * un-flags malformed rows — see q74's comment). */
  def readStream(spark: SparkSession, path: String,
                 dataSchema: org.apache.spark.sql.types.StructType,
                 sep: String = ";"): DataFrame = {
    val withCorrupt = org.apache.spark.sql.types.StructType(
      dataSchema.fields :+ org.apache.spark.sql.types.StructField(
        CorruptCol, org.apache.spark.sql.types.StringType, nullable = true))
    spark.readStream
      .option("sep", sep)
      .option("header", "true")
      .option("encoding", "UTF-8")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(withCorrupt)
      .csv(path)
  }

  /** K1 — partitioned CSV write. `partitionBy(cidade, ano, mes)` is the
    * engine-side equivalent of the reference's
    * `{cidade}/{cidade}_royalties_{ano}_{mes}.csv` layout, and makes the
    * read side Hive-partitioned so `PruneFileSourcePartitions` can prune
    * whole directories at plan time (F5/F6).
    *
    * `bom = true` gives utf-8-sig parity on the WRITE side too: the
    * reference emits BOM-prefixed files so Excel auto-detects the
    * encoding (`aracaju_barra_pirambu_scraper.py:294`). Spark's CSV sink
    * has no BOM option, so the BOM is prepended to each part file in a
    * driver-side post-pass — a stream-copy per part file, bounded by the
    * write's task count, not a data-plane job (same cost class as the
    * sink's own _SUCCESS/commit bookkeeping). [[read]]/[[readPartitioned]]
    * never see the BOM (the line reader drops it), so the roundtrip is
    * lossless either way. */
  def write(df: DataFrame, path: String, partitionCols: Seq[String] = Nil,
            sep: String = ";", bom: Boolean = false): Unit = {
    val w = df.write
      .option("sep", sep)
      .option("header", "true")
      .mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .csv(path)
    if (bom) prependBom(df.sparkSession, path)
  }

  private val Utf8Bom = Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)

  /** Prepend the UTF-8 BOM to every part file under `path` (recursive —
    * covers Hive-partitioned layouts). Hadoop FS API, so the pass works
    * on any FS the write itself reached.
    *
    * Robustness contract: the listing is SNAPSHOTTED before any
    * mutation (paged RemoteIterators on HDFS/S3A may otherwise surface
    * files created mid-iteration — including our own temps); the temp
    * copy is dot-prefixed so Spark/Hadoop readers treat it as hidden if
    * a crash strands it; delete/rename results are checked so a failed
    * commit throws instead of silently leaving a partition duplicated
    * or missing. */
  private def prependBom(spark: SparkSession, path: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val parts = {
      val it = fs.listFiles(root, true)
      val buf = scala.collection.mutable.ArrayBuffer
        .empty[org.apache.hadoop.fs.Path]
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.startsWith("part-"))
          buf += f.getPath
      }
      buf.toSeq
    }
    parts.foreach { p =>
      val tmp = new org.apache.hadoop.fs.Path(p.getParent,
        "." + p.getName + ".bom")
      val out = fs.create(tmp, true)
      try {
        val in = fs.open(p)
        try {
          out.write(Utf8Bom)
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, conf, false)
        } finally in.close()
      } finally out.close()
      if (!fs.delete(p, false))
        throw new java.io.IOException(s"BOM pass: could not delete $p")
      if (!fs.rename(tmp, p))
        throw new java.io.IOException(s"BOM pass: could not rename $tmp to $p")
    }
  }

  /** Head-sample dialect of one file: (separator, header line). The
    * header line is the first non-empty line, the one Spark's header
    * inference takes (Hadoop's line reader drops a BOM at file start and
    * ends lines at `\n`, `\r\n` or `\r`; SQL `trim` only drops spaces).
    * A header longer than `sampleBytes` grows the sample to its end. */
  private def sniffFileDialect(fs: FileSystem, f: Path,
                               sampleBytes: Int): (String, Option[String]) = {
    val in = fs.open(f)
    try {
      var buf = new Array[Byte](sampleBytes)
      var off = 0
      var eof = false
      def sample = new String(buf, 0, off,
        java.nio.charset.StandardCharsets.UTF_8)
      var header = Option.empty[String]
      do {
        if (off == buf.length) buf = java.util.Arrays.copyOf(buf, 2 * off)
        while (off < buf.length && !eof) {
          val n = in.read(buf, off, buf.length - off)
          if (n < 0) eof = true else off += n
        }
        // before EOF the final piece is cut mid-line: never a header
        val lines = sample.stripPrefix("﻿").split("\r\n|\r|\n", -1)
        header = (if (eof) lines else lines.dropRight(1))
          .find(_.exists(_ != ' '))
      } while (header.isEmpty && !eof)
      (sniffSep(sample, truncated = !eof), header)
    } finally in.close()
  }

  /** K2/U1/O1 — per-year consolidation (`file_utils.py:9-59`): read each
    * monthly file WITH per-file separator detection (the reference
    * consolidator reads every monthly file `sep=None` —
    * `file_utils.py:36-42` — and this is that read), align schemas BY
    * NAME (missing → NULL) and keep first-seen column order. Files that
    * share a (separator, header) are read in one scan, so the call
    * submits no Spark job and a year of monthly files with one mid-year
    * header drift is two scans, not twelve.
    *
    * Row order: rows come out in `orderCol` order when it is given —
    * that is how the reference's month order is reproduced. Without it,
    * the order across files is whatever Spark's file packing gives a
    * grouped scan (largest files first), not the order of `paths`. On a
    * uniformly `;`-separated directory the sniff detects `;` everywhere
    * and the result equals the fixed-separator read. */
  def consolidate(spark: SparkSession, paths: Seq[String],
                  orderCol: Option[String] = None): DataFrame = {
    // pandas on_bad_lines='warn' drops bad lines from the consolidated
    // output; the corrupt column is a read-side diagnostic only.
    val dfs = readByDialect(spark, paths.map(new Path(_)), 8192)
      .map(_.drop(CorruptCol))
    val selected = Consolidate(dfs).select(Consolidate.orderedColumns(dfs)
      .map(org.apache.spark.sql.functions.col): _*)
    orderCol.fold(selected)(c => selected.orderBy(c))
  }
}
