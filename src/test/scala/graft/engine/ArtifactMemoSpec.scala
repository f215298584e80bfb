package graft.engine

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path

import graft.SparkSpec
import graft.operators.{ProductQuantize, SegmentManifest, Similarity}
import graft.streaming.StreamingVectorIndex

/** The artifact memo's one key rule, slot by slot: an artifact
  * rewritten in place inside one timestamp tick (every mtime the memo
  * could read reset to its old value) misses, and the fresh value is
  * served. Plus the source guard that keeps [[ArtifactMemo]] the only
  * memo mechanism under `src/main`. */
class ArtifactMemoSpec extends SparkSpec {
  import ArtifactMemoSpec.Case

  private def cases(): Seq[Case] = {
    import spark.implicits._
    val base = scratch(s"memo_tick_${System.nanoTime()}").toString
    def overwrite(df: org.apache.spark.sql.DataFrame, loc: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(loc)
    def books(m: Int): org.apache.spark.sql.DataFrame =
      (for (s <- 0 until m; c <- 0 until 2)
        yield (s.toLong, c.toLong, Seq(s + 0.5, c - 0.5)))
        .toDF("subspace", "code", "cvec")
    val booksLoc = s"$base/books"
    val centsLoc = s"$base/cents/gen=3"
    val root = s"$base/index"
    val member = s"$base/layout"
    val manifest = SegmentManifest.Manifest(0, Map("cells" -> Seq(
      SegmentManifest.Entry(1, "cells/seg=1"))))
    def statRows(v: Int) = (0 until v).map(c =>
      StreamingVectorIndex.StatRow(c.toLong, 10L + v, 0.5, 7L * v, 99L,
        1L))
    Seq(
      Case("book rows", booksLoc, m => overwrite(books(m), booksLoc),
        () => ProductQuantize.bookRowsAt(spark, booksLoc).length,
        m => 2 * m),
      Case("book rows -> fingerprint", booksLoc,
        m => overwrite(books(m), booksLoc),
        () => ProductQuantize.booksFingerprintAt(spark, booksLoc),
        m => Similarity.modelFingerprint(books(m).withColumnRenamed(
          "cvec", "bvec"), Seq("subspace", "code"), "bvec")),
      Case("centroid rows", centsLoc,
        k => overwrite((0 until k).map(c => (c.toLong, Seq(c + 0.5, 1.0)))
          .toDF("centroid_id", "cvec"), centsLoc),
        () => Similarity.centroidRowsAt(spark, centsLoc).map(_._1).sorted,
        k => (0 until k).map(_.toLong)),
      Case("baseline", s"$root/baseline/gen=1",
        v => overwrite(Seq((v.toLong, 10L * v))
          .toDF("skew_x100", "mean_cd_fp"), s"$root/baseline/gen=1"),
        () => StreamingVectorIndex.readBaseline(spark, root, 1),
        v => (v.toLong, 10L * v)),
      Case("drift stats", s"$root/driftstats/gen=1",
        v => StreamingVectorIndex.commitDriftStats(spark, root, 1,
          statRows(v), keepBelow = 4),
        () => StreamingVectorIndex.priorStats(spark, root, 1),
        v => Some(statRows(v))),
      Case("segstats partials", s"$root/segstats/seg=1",
        v => overwrite(Seq((v.toLong, 10L * v)).toDF("n_docs", "sum_dl"),
          s"$root/segstats/seg=1"),
        () => graft.operators.TextAnalysis
          .segStatsAt(spark, s"$root/segstats/seg=1"),
        v => Seq((v.toLong, 10L * v))),
      Case("member schema", s"$member/cells/seg=1",
        v => overwrite(Seq((1L, v.toLong)).toDF("id", s"c$v"),
          s"$member/cells/seg=1"),
        () => SegmentManifest.read(spark, member, manifest, "cells").get
          .columns.toSeq,
        v => Seq("id", s"c$v", "seg")))
  }

  test("every memo slot misses when its artifact is rewritten in place " +
      "with every mtime reset to its old value") {
    val stale = cases().flatMap { c =>
      c.write(1)
      assert(c.read() == c.expect(1), s"${c.slot}: first read")
      val p = new Path(c.loc)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val dirTime = fs.getFileStatus(p).getModificationTime
      val entryTime = fs.listStatus(p).map(_.getModificationTime).max
      c.write(2)
      fs.listStatus(p).foreach(st =>
        fs.setTimes(st.getPath, entryTime, -1))
      fs.setTimes(p, dirTime, -1)
      assert(fs.getFileStatus(p).getModificationTime == dirTime)
      val got = c.read()
      if (got == c.expect(2)) None else Some(s"${c.slot} served $got")
    }
    assert(stale.isEmpty, stale.mkString("; "))
  }

  test("a schema the writer declared serves the next read of the " +
      "member, and the listing read takes is the key it hits") {
    import spark.implicits._
    val dir = scratch(s"memo_declare_${System.nanoTime()}").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/cells/seg=4")
    SegmentManifest.declareSchema(spark, dir, Seq("cells/seg=4"),
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, w STRING"))
    val m = SegmentManifest.Manifest(0, Map("cells" -> Seq(
      SegmentManifest.Entry(4, "cells/seg=4"))))
    // the declared schema names `w`; footer inference would say `v`
    assert(SegmentManifest.read(spark, dir, m, "cells").get
      .columns.toSeq == Seq("id", "w", "seg"))
  }

  test("no memo mechanism under src/main outside ArtifactMemo.scala: " +
      "every LRU / concurrent map left is an allowlisted non-memo map") {
    // no non-memo map is left: a new one must be named here on purpose
    val allowed = Set.empty[String]
    val mapUse =
      "removeEldestEntry|LinkedHashMap|ConcurrentHashMap|TrieMap".r
    val valName = """val\s+(\w+)""".r
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally s.close()
    }
    val found = files
      .filterNot(_.getFileName.toString == "ArtifactMemo.scala")
      .flatMap { f =>
        val lines =
          java.nio.file.Files.readAllLines(f).asScala.toIndexedSeq
        lines.indices.filter(i => mapUse.findFirstIn(lines(i)).nonEmpty)
          .map { i =>
            // the val the map is bound to, on its line or just above
            val name = (i to math.max(0, i - 2) by -1).iterator
              .flatMap(j => valName.findFirstMatchIn(lines(j)))
              .nextOption().map(_.group(1)).getOrElse(s"line ${i + 1}")
            s"${root.relativize(f)}: $name"
          }
      }.toSet
    assert(found == allowed,
      s"map surface drifted: unexpected=${found -- allowed} " +
        s"gone=${allowed -- found}")
  }
}

object ArtifactMemoSpec {

  /** One slot's artifact: `write(v)` writes version `v` of it in place
    * (through the production writer where one exists), `read` goes
    * through the memoized path, `expect(v)` is what version `v` must
    * read as. */
  final case class Case(slot: String, loc: String, write: Int => Unit,
                        read: () => Any, expect: Int => Any)
}
