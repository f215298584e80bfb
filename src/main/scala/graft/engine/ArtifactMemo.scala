package graft.engine

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** One memo slot for driver-side metadata derived from a WRITTEN
  * artifact directory: codebook rows, centroid rows (the model
  * fingerprints fold from both), carried drift stats, recenter
  * baselines, manifest member schemas. Each value is a pure function
  * of the directory's files, but deriving it costs a Spark job (a
  * collect, a footer read) per wave or per probe.
  *
  * Every slot keys on [[ArtifactMemo.Key]], built from ONE listing of
  * the directory, and holds at most `cap` entries (least recently used
  * evicted). The file stays the source of truth: a rewrite of the
  * directory changes its key, so the next lookup misses and re-derives
  * from the file. Values are metadata only, never a frame's rows. */
final class ArtifactMemo[V](cap: Int) {
  import ArtifactMemo.Key

  private val lru = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[Key, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Key, V])
          : Boolean = size() > cap
    })

  def peek(key: Key): Option[V] = Option(lru.get(key))

  def put(key: Key, v: V): Unit = { lru.put(key, v); () }

  /** The value for directory `loc`, keyed from one listing of it;
    * computed and held on a miss. */
  def get(spark: SparkSession, loc: String)(compute: => V): V = {
    val key = ArtifactMemo.keyOf(spark, loc)
    peek(key).getOrElse { val v = compute; put(key, v); v }
  }

  /** Drop every entry (specs force a miss with it). */
  private[graft] def clear(): Unit = lru.clear()
}

object ArtifactMemo {

  /** The one key rule: (location, newest entry mtime, total bytes, hash
    * of the entry names), all from one listing of the directory. Spark
    * part-file names carry a per-write job UUID, so any rewrite misses,
    * even one that lands in the same timestamp tick with the same bytes
    * (a two-long baseline keeps both). */
  final case class Key(loc: String, newest: Long, bytes: Long,
                       names: Int)

  /** The key of `loc` from a listing the caller already holds. */
  def keyOf(loc: String, listing: Seq[FileStatus]): Key =
    Key(loc, listing.map(_.getModificationTime).maxOption.getOrElse(0L),
      listing.map(_.getLen).sum,
      scala.util.hashing.MurmurHash3.unorderedHash(
        listing.map(_.getPath.getName)))

  /** The key of `loc`, from one `listStatus` of it. */
  def keyOf(spark: SparkSession, loc: String): Key = {
    val p = new Path(loc)
    keyOf(loc, p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).toSeq)
  }
}
