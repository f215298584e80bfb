package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.SegmentManifest

/** The contract fused `ProductQuantize.ivfPqDriftStats` relies on: it
  * sums one displacement per code row, so a sealed IVF-PQ layout must
  * hold each (centroid_id, id) exactly once — after the bootstrap, after
  * refresh waves (survivors + fresh rows of dirty cells), and after a
  * recenter's full re-encode. */
class IvfPqCellUniquenessSpec extends SparkSpec {

  private def vec(i: Long, shift: Double = 0.0): Seq[Float] =
    Seq.tabulate(8)(j =>
      (((i * 31 + j * 17) % 97) / 97.0 + shift + 0.01).toFloat)

  test("every retained generation's cells hold each (centroid_id, id) " +
      "once, across bootstrap, refresh waves and a recenter") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("pq_unique")
      .toString
    StreamingVectorIndex.bootstrapIvfPq(
      (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding"),
      root, "vec_id", "embedding", kCells = 4, m = 4, k = 8)
    val codes = s"$root/index/codes"
    def assertUnique(label: String, m: SegmentManifest.Manifest): Unit = {
      val cells = SegmentManifest.read(spark, codes, m, "cells",
        "centroid_id").get
      val dups = cells.groupBy(col("centroid_id"), col("vec_id")).count()
        .filter(col("count") =!= 1).collect()
      assert(dups.isEmpty, s"$label repeats (cell, id): " +
        dups.mkString(", "))
      assert(cells.count() > 0, s"$label has no rows")
    }
    assertUnique("the bootstrap layout", SegmentManifest.latest(spark,
      codes).getOrElse(SegmentManifest.bootstrap(spark, codes,
        Seq(SegmentManifest.CellLayout))))
    def wave(rows: Seq[(Long, Seq[Float], String)], id: Long): Unit =
      StreamingVectorIndex.applyWaveIvfPq(spark, root,
        rows.toDF("vec_id", "embedding", "op"), id, "vec_id",
        "embedding", kCells = 4, m = 4, k = 8, historyRetention = 16)
    // refresh: new rows, a modified row that may change cell, deletes
    wave((40L until 46L).map(i => (i, vec(i), "upsert")) ++
      Seq((3L, vec(3L, 0.3), "upsert"), (5L, vec(5L), "delete"),
        (9L, vec(9L), "delete")), 0L)
    // re-upsert an id in place and re-add a deleted one
    wave(Seq((3L, vec(3L, 0.3), "upsert"), (5L, vec(5L), "upsert"),
      (41L, vec(41L, 0.05), "upsert")), 1L)
    // drift: most of the corpus moves far, forcing a recenter
    wave((4L until 46L).filterNot(_ == 9L).map(i =>
      (i, vec(i, shift = 3.0 * (i % 5)), "upsert")), 2L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/cents/gen=3")),
      "the drift wave did not recenter")
    wave(Seq((50L, vec(50L, 1.5), "upsert"), (12L, vec(12L), "delete")),
      3L)
    val gens = SegmentManifest.generations(spark, codes)
    assert(gens.size >= 4, s"generations $gens")
    gens.foreach(g => assertUnique(s"generation $g",
      SegmentManifest.load(spark, codes, g)))
  }
}
