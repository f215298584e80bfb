package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.operators.TextAnalysis

/** Empirical ×m scaling probe for the LEXICAL index family (r10
  * verdict item 6) — the vector side's ×m scaling probe (PLANS.md)
  * applied to q114/q115/q122: corpus inflated ×m with tagged tokens
  * ([[inflateWithSource]] — vocabulary grows ×m, the df aggregate's
  * worst case), written as a SEGMENTED index
  * with S ∈ {1,4,16} segments; each segment ≥ 1 also tombstones ~2%
  * of the IMMEDIATELY PREVIOUS segment's keys (S−1 tombstone files
  * total — per-neighbor deletions, not an all-earlier fan-out), then:
  *
  *   - segmented probe wall at (m, S) — measures the tombstone
  *     max-segment join and the |segments|-row stats partials the
  *     merge exists to bound;
  *   - [[TextAnalysis.bm25MergeSegments]] wall + post-merge probe
  *     wall + posting file counts — the compaction payoff.
  *
  * Pass criteria: probe wall ~flat in S (posting-list-bounded IO;
  * the S-growth terms are the tombstone join + partials), merge
  * linear in m, post-merge probe at the S=1 reading.
  * Usage: runMain graft.tools.LexicalScaleProbe [sfDir] [mults] [segs]
  */
object LexicalScaleProbe {

  /** The docs frame stacked ×m with per-copy token tags, carrying
    * `source` through: copies keep their original source, so the
    * per-source aggregate keys don't multiply with m. */
  private def inflateWithSource(docs: DataFrame, m: Int): DataFrame =
    (0 until m).map { i =>
      docs.select(
        (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        col("source"),
        concat_ws(" ",
          transform(split(coalesce(col("text"), lit("")), " "),
            t => concat(t, lit(s"_$i")))).as("text"))
    }.reduce(_.unionByName(_))

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val mults = (if (args.length > 1) args(1) else "1,10,20")
      .split(',').map(_.toInt).toSeq
    val segCounts = (if (args.length > 2) args(2) else "1,4,16")
      .split(',').map(_.toInt).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    spark.range(1000000).selectExpr("sum(id) as s")
      .write.format("noop").mode("overwrite").save()
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    val panel = Seq((0L, "sort_0 merge_0 join_0"),
      (1L, "query_0 filter_0 scan_0")).toDF("qid", "qtext")

    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def postingFiles(dir: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(s"$dir/postings"))
    }

    for (m <- mults) {
      val corpus = graft.engine.Caching.cached(
        inflateWithSource(docs, m)
          .select(col("doc_id"), coalesce(col("text"), lit("")).as("text")))
      corpus.count()
      for (s <- segCounts) {
        val dir = java.nio.file.Files
          .createTempDirectory(s"lexprobe_${m}_$s").toString
        val (_, tBuild) = timed {
          for (i <- 0 until s) {
            val slice = corpus.filter(col("doc_id") % s === i)
            TextAnalysis.bm25AppendSegment(slice, "doc_id", "text", dir, i)
            if (i >= 1) {
              // deletion tombstones against the previous segment
              val dead = corpus.filter(col("doc_id") % s === (i - 1) &&
                col("doc_id") % 50 === 3)
                .select(col("doc_id"),
                  size(TextAnalysis.tokens(col("text"))).cast("long")
                    .as("dl"))
              TextAnalysis.bm25Tombstone(dead, "doc_id", "dl", dir, i)
            }
          }
        }
        def probe() = graft.engine.Caching.scoped {
          TextAnalysis.bm25ProbeSegmented(spark, dir, panel, k = 15,
              "doc_id")
            .write.format("noop").mode("overwrite").save()
        }
        probe() // warm the reader paths once per layout
        val (_, tProbe) = timed(probe())
        val filesBefore = postingFiles(dir)
        val ((folded, live), tMerge) = timed(
          TextAnalysis.bm25MergeSegments(spark, dir, "doc_id"))
        val (_, tProbeM) = timed(probe())
        println(f"LEX m=$m%-3d S=$s%-3d build=$tBuild%6.1f s " +
          f"probe=$tProbe%5.2f s files=$filesBefore%4d | merge=$tMerge%6.1f s " +
          f"probeAfter=$tProbeM%5.2f s filesAfter=${postingFiles(dir)}%4d " +
          s"folded=$folded live=$live")
        spark.catalog.clearCache()
        corpus.cache() // re-pin after the sweep for the next layout
      }
      corpus.unpersist()
    }
    spark.stop()
  }
}
