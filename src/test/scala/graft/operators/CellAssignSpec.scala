package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFns

/** The one IVF assignment rule: [[Similarity.ivfAssignCosine]] as a
  * projection over the collected centroid table, pinned row for row to
  * the cross join + `min_by` form it replaced; and the centroid-rows
  * memo every streaming wave reads the model through. */
class CellAssignSpec extends SparkSpec {
  import spark.implicits._

  /** The relational reference: every (vector, centroid) pair's cosine
    * distance, `min_by` per vector over (distance, id) — plain
    * `min_by(id, distance)` breaks exact ties by row arrival order.
    * A NULL distance takes no part; zero-norm vectors, whose distance
    * divides by zero, are left out. */
  private def reference(vectors: DataFrame,
                        cents: DataFrame): Map[Long, Option[Long]] =
    vectors.select(col("id"), VectorFns.toDouble(col("v")).as("_vd"))
      .filter(coalesce(VectorFns.norm(col("_vd")) =!= 0.0, lit(true)))
      .crossJoin(broadcast(cents))
      .withColumn("cd",
        lit(1.0) - VectorFns.cosine(col("_vd"), col("cvec")))
      .groupBy(col("id"))
      .agg(min_by(col("centroid_id"), when(col("cd").isNotNull,
        struct(col("cd"), col("centroid_id")))).as("centroid_id"))
      .collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.toString.toLong))
      .toMap

  private def assigned(vectors: DataFrame,
                       cents: DataFrame): Map[Long, Option[Long]] =
    Similarity.ivfAssignCosine(vectors, cents, "id", "v").collect()
      .map(r => r.getLong(0) -> Option(r.get(1)).map(_.toString.toLong))
      .toMap

  test("ivfAssignCosine matches the cross join + min_by reference row " +
      "for row: bench vectors, a zero-norm row (dropped), a NULL " +
      "element (NULL cell), a duplicated centroid (tie to the smaller " +
      "id), float and double input") {
    val rnd = new scala.util.Random(21)
    val bench = (0L until 2000L).map { i =>
      i -> Seq.fill(64)(Option(rnd.nextGaussian().toFloat))
    }
    val cents0 = Similarity.learnedCentroids(
      bench.map { case (i, v) => (i, v.flatten) }.toDF("id", "v"), "v",
      k = 16, seed = 21L).localCheckpoint()
    // cell 16 duplicates cell 3: every vector nearest to it ties
    val cents = cents0.unionByName(cents0.filter(col("centroid_id") === 3L)
      .withColumn("centroid_id", lit(16L)))
    val nullElem = Seq.fill(63)(Option(0.5f)) :+ None
    val odd = Seq(5000L -> Seq.fill(64)(Option(0.0f)), 5001L -> nullElem)
    val vectors = (bench ++ odd).toDF("id", "v")
    val want = reference(vectors, cents)
    val got = assigned(vectors, cents)
    assert(!got.contains(5000L), "the zero-norm row was not dropped")
    assert(got(5001L).isEmpty, "the NULL-element row got a cell")
    assert(got.values.exists(_.contains(3L)) &&
      !got.values.exists(_.contains(16L)),
      "ties on the duplicated centroid did not go to the smaller id")
    assert(got == want, (got.toSet diff want.toSet).take(5).toString)
    val doubles = vectors.withColumn("v", VectorFns.toDouble(col("v")))
    assert(assigned(doubles, cents) == want, "double input diverged")
    // the cell keeps the centroid table's id type
    assert(Similarity.ivfAssignCosine(vectors,
        cents.withColumn("centroid_id", col("centroid_id").cast("int")),
        "id", "v").schema("centroid_id").dataType ==
      org.apache.spark.sql.types.IntegerType)
  }

  test("centroid-rows memo misses when cents/gen=N is rewritten with " +
      "different rows under the old mtimes") {
    val loc = scratch("assign_memo_cents/gen=3").toString
    def write(k: Int): Unit =
      (0 until k).map(c => (c.toLong, Seq(c + 0.5, 1.0 - c)))
        .toDF("centroid_id", "cvec")
        .coalesce(1).write.mode("overwrite").parquet(loc)
    write(4)
    val p = new Path(loc)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(Similarity.centroidRowsAt(spark, loc).length == 4)
    val fp = Similarity.centroidFingerprintAt(spark, loc)
    val dirTime = fs.getFileStatus(p).getModificationTime
    val fileTime = fs.listStatus(p).map(_.getModificationTime).max
    // rewrite with other rows inside one timestamp tick: every mtime
    // the memo could read is reset to its old value
    write(3)
    fs.listStatus(p).foreach(st => fs.setTimes(st.getPath, fileTime, -1))
    fs.setTimes(p, dirTime, -1)
    assert(Similarity.centroidRowsAt(spark, loc).length == 3,
      "the memo served the rewritten store's old rows")
    assert(Similarity.centroidFingerprintAt(spark, loc) != fp,
      "the memo served the rewritten store's old fingerprint")
    assert(Similarity.centroidFingerprintAt(spark, loc) ==
      Similarity.centroidFingerprint(spark.read.parquet(loc)))
  }
}
