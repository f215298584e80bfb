package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** GENERATION MANIFESTS for the segmented lexical index — the
  * Delta-log / Lucene-SegmentInfos commit protocol that turns the
  * layout's single-writer read contract into true MVCC snapshot
  * isolation (reference behavior: the ETL's monthly re-scrape
  * replaces CSVs wholesale, `main.py` re-reads whatever is on disk —
  * no isolation at all; this module is the engine's scale answer).
  *
  * The model (Delta Lake's insight, relationally):
  *
  *   - every physical segment directory is WRITE-ONCE: appends land
  *     in the live hive tree (`postings/seg=N`, …), maintenance
  *     REWRITES land under `_rev/g<gen>/…` — nothing is ever renamed
  *     or deleted in place (until [[graft.operators.TextAnalysis
  *     .bm25Vacuum]] reclaims unreferenced history);
  *   - a MANIFEST file (`_gen/m<gen>`) lists, per layout
  *     (postings / segstats / termdict / tombstones), the (seg, loc)
  *     pairs composing that generation;
  *   - sealing a manifest is ATOMIC (exclusive create): the new
  *     generation becomes visible all-or-nothing, so there is no
  *     swap window at all — the staging/marker recovery protocols
  *     the pre-manifest layout needed are obsolete. A crash before
  *     the seal leaves unreferenced garbage (invisible, vacuumed
  *     later); a crash after it leaves a complete generation.
  *
  * Readers PIN the latest sealed generation once at entry and
  * resolve every layout through it — a maintenance op sealing g+1
  * mid-probe changes nothing the probe reads, because generation g's
  * directories are still on disk, untouched. That is snapshot
  * isolation; it also makes every sealed generation a TIME-TRAVEL
  * target (`asOfGeneration`), valid back to the vacuum horizon —
  * strictly wider than the segment-number cut (q161/q183), which a
  * compaction invalidates.
  *
  * Concurrent WRITERS collide loudly on the exclusive seal: the
  * second sealer of generation g+1 fails, its staged `_rev` output
  * stays unreferenced, and the index is intact — the single-writer
  * contract is now machine-checked at the only point that matters,
  * instead of advisory.
  *
  * The manifest file format is a plain text header + entry lines
  * (`layout<TAB>seg<TAB>loc`) — human-auditable, no JSON dependency,
  * and small: one line per live segment per layout. */
object SegmentManifest {

  /** Schema-inference memo for [[read]], keyed by (absolute member
    * location, directory mtime). The protocol already makes member
    * dirs write-once, but the mtime key makes the invalidation
    * MACHINE-CHECKED instead of convention-only (r19 verdict item 3):
    * any rewrite that lands files in a memoized directory — a replayed
    * append, an unsanctioned in-place edit — bumps the dir mtime and
    * misses, so a stale schema can never serve. Caches METADATA only —
    * never rows — bounded by PER-ENTRY LRU eviction (the old
    * clear-on-growth guard wiped every entry at once). */
  private val schemaMemo: java.util.Map[(String, Long),
      org.apache.spark.sql.types.StructType] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(String, Long),
          org.apache.spark.sql.types.StructType](64, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(String, Long),
              org.apache.spark.sql.types.StructType]): Boolean =
          size() > 8192
      })

  /** Writer-side warm-up of the schema memo: a maintenance writer
    * that just staged member directories under `locs` declares their
    * shared schema, so the NEXT read of the layout skips footer
    * inference even when EVERY member is fresh — the all-dirty wave /
    * tiered-fold shape, where no carried-over sibling survives to
    * serve a memo hit and each wave re-inferred its predecessor's rev
    * dirs forever (r20 WaveJobProbe: one inference job per wave after
    * the sibling-hit fix alone). The declared schema is widened
    * `asNullable`, which can only ADD null handling relative to footer
    * inference — never claim non-null on nullable data — so a read
    * under it is value-identical. Keyed (loc, mtime) like every other
    * entry; a later rewrite invalidates normally. */
  private def widenNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType(s.fields.map(f =>
        f.copy(dataType = widenNullable(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType = widenNullable(a.elementType),
        containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      m.copy(keyType = widenNullable(m.keyType),
        valueType = widenNullable(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  private[operators] def declareSchema(
      spark: SparkSession, path: String, locs: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val sch = widenNullable(schema)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val fs = fsOf(spark, path)
    locs.take(64).foreach { loc =>
      val p = new Path(s"$path/$loc")
      try schemaMemo.put(
        (s"$path/$loc", fs.getFileStatus(p).getModificationTime), sch)
      catch { case _: java.io.FileNotFoundException => () }
    }
  }

  /** The four layouts of a segmented index, in serialization order. */
  val Layouts: Seq[String] =
    Seq("postings", "segstats", "termdict", "tombstones")

  /** Physical shape of one layout: where its member directories live
    * (`sub`, "" = the index root), their hive prefix, and the key
    * column a manifest read attaches. The lexical index has four
    * `<layout>/seg=N` layouts; the cell-partitioned vector index has
    * one root-level `centroid_id=N` layout. */
  final case class LayoutSpec(name: String, sub: String,
                              prefix: String, keyCol: String) {
    def dirOf(key: Int): String =
      if (sub.isEmpty) s"$prefix$key" else s"$sub/$prefix$key"
  }

  val LexicalLayouts: Seq[LayoutSpec] =
    Layouts.map(l => LayoutSpec(l, l, "seg=", "seg"))

  val CellLayout: LayoutSpec =
    LayoutSpec("cells", "", "centroid_id=", "centroid_id")

  /** The IVF-PQ codes root's second layout: per-rebuild write-once
    * codebook directories (`books_<gen>-<token>`), sealed in the SAME
    * manifest as the cells so a pinned probe decodes the generation's
    * codes through the generation's own codebooks — the codes/books
    * pairing is atomic exactly like the lexical postings/termdict
    * pairing. */
  val BooksLayout: LayoutSpec =
    LayoutSpec("books", "", "books_", "bookgen")

  /** Marker layout name for the centroid-model generation in force
    * when a cell layout was sealed (`Entry(modelGen, loc)` — the loc
    * is documentation only, never read). Readers resolve the model
    * through the SAME pinned manifest as the cells, so a probe can
    * never pair one generation's cells with another's centroids.
    * Deliberately absent from every vacuum spec list: models live
    * outside the index root and are retained by their own store. */
  val ModelMarker: String = "model"

  /** One layout member: logical segment number + directory location
    * RELATIVE to the index root (stable until vacuum). */
  final case class Entry(seg: Int, loc: String)

  /** One sealed generation: the complete (seg, loc) composition of
    * every layout. Immutable once sealed. */
  final case class Manifest(gen: Int,
                            layouts: Map[String, Seq[Entry]]) {
    def entries(layout: String): Seq[Entry] =
      layouts.getOrElse(layout, Nil).sortBy(_.seg)
    def segs(layout: String): Seq[Int] = entries(layout).map(_.seg)
    /** Next-generation composition: drop `drop` segments and add (or
      * replace — append replay overwrites a segment in place) `add`
      * in the given layout; other layouts unchanged. */
    def replace(layout: String, drop: Set[Int],
                add: Seq[Entry]): Manifest = {
      val addSegs = add.map(_.seg).toSet
      val kept = entries(layout)
        .filterNot(e => drop.contains(e.seg) || addSegs.contains(e.seg))
      copy(layouts = layouts.updated(layout, kept ++ add))
    }
  }

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def genDir(path: String) = new Path(s"$path/_gen")

  private def manifestPath(path: String, gen: Int) =
    new Path(genDir(path), f"m$gen%09d")

  /** Generation numbers with a sealed manifest, ascending; empty for
    * pre-manifest (legacy) layouts. */
  def generations(spark: SparkSession, path: String): Seq[Int] = {
    val fs = fsOf(spark, path)
    val d = genDir(path)
    if (!fs.exists(d)) Nil
    else fs.listStatus(d).map(_.getPath.getName)
      .filter(n => n.startsWith("m") && n.drop(1).forall(_.isDigit))
      .map(_.drop(1).toInt).sorted.toSeq
  }

  def latestGen(spark: SparkSession, path: String): Option[Int] =
    generations(spark, path).lastOption

  /** Load a sealed manifest. Loud when the generation does not exist
    * (never sealed, or reclaimed by vacuum — the time-travel floor). */
  def load(spark: SparkSession, path: String, gen: Int): Manifest = {
    val fs = fsOf(spark, path)
    val p = manifestPath(path, gen)
    require(fs.exists(p),
      s"segmented index at $path has no sealed generation $gen — " +
        "never sealed, or vacuumed past the time-travel floor")
    val in = fs.open(p)
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    parse(txt)
  }

  def latest(spark: SparkSession, path: String): Option[Manifest] =
    latestGen(spark, path).map(load(spark, path, _))

  /** The PUBLISH seam of [[seal]] — Delta Lake's LogStore boundary,
    * as a contract instead of a scaladoc caveat: implementations MUST
    * publish the fully written `tmp` as `dst` atomically AND
    * exclusively (fail with `lost` when `dst` already exists, never
    * leave a torn `dst`). Everything the manifest protocol guarantees
    * — the machine-checked single-writer rule, torn-seal invisibility
    * — reduces to this one method; the seam spec proves it by racing
    * two sealers through a deliberately NON-atomic fake publisher and
    * watching the lost-update the real ones make impossible. */
  private[graft] trait SealPublisher {
    def publish(fs: FileSystem, tmp: Path, dst: Path,
                lost: String => Exception): Unit
  }

  /** POSIX local filesystems: hard-link the complete temp file into
    * place — one atomic `link(2)` syscall that FAILS when the target
    * exists (true exclusive create + publish in a single step). */
  private[graft] object PosixLinkPublisher extends SealPublisher {
    def publish(fs: FileSystem, tmp: Path, dst: Path,
                lost: String => Exception): Unit = {
      val d = java.nio.file.Paths.get(dst.toUri.getPath)
      val s = java.nio.file.Paths.get(tmp.toUri.getPath)
      try java.nio.file.Files.createLink(d, s)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          throw lost(e.toString)
      }
    }
  }

  /** HDFS-class stores: `rename` is atomic and does not replace an
    * existing destination; the pre-check only sharpens the error. */
  private[graft] object HdfsRenamePublisher extends SealPublisher {
    def publish(fs: FileSystem, tmp: Path, dst: Path,
                lost: String => Exception): Unit = {
      if (fs.exists(dst)) throw lost(s"$dst already sealed")
      if (!fs.rename(tmp, dst)) throw lost(s"rename to $dst refused")
    }
  }

  /** Hadoop conf key opting a raw object-store scheme into
    * [[SingleDriverPublisher]] — the documented migration path for
    * single-driver deployments on stores with no atomic
    * rename-if-absent (Delta's S3SingleDriverLogStore contract: set
    * it ONLY when every sealer of the index runs in one driver JVM). */
  val SingleDriverConfKey = "graft.seal.singledriver"

  /** OPT-IN reference publisher for raw object stores (S3-class, no
    * atomic rename-if-absent) — Delta Lake's S3SingleDriverLogStore
    * recipe: mutual exclusion comes from a PROCESS-WIDE lock per
    * destination path around check-then-put, so two sealers in the
    * SAME driver JVM (the Structured-Streaming foreachBatch world,
    * and any single-driver deployment) collide loudly exactly like
    * the atomic publishers. What the store must still provide is
    * all-or-nothing object PUT (S3/GCS/Azure all do — an upload
    * either fully materializes or doesn't exist), which keeps a
    * crash mid-publish from leaving a torn manifest. What this
    * publisher does NOT provide is cross-JVM exclusion: a sealer in
    * ANOTHER driver is not locked out, which is why it is opt-in
    * ([[SingleDriverConfKey]]) rather than the scheme default —
    * multi-driver object-store deployments need a store-side
    * conditional put (the DynamoDB-style LogStore). */
  private[graft] object SingleDriverPublisher extends SealPublisher {
    // ONE lock per index (`_gen` parent), not per destination file:
    // bounded by live indexes instead of growing one entry per sealed
    // generation forever (a streaming loop seals one+ per
    // micro-batch), and serializing all of an index's seals is the
    // single-writer model anyway
    private val locks =
      new java.util.concurrent.ConcurrentHashMap[String, Object]()
    def publish(fs: FileSystem, tmp: Path, dst: Path,
                lost: String => Exception): Unit = {
      val lock = locks.computeIfAbsent(
        String.valueOf(dst.getParent), _ => new Object)
      lock.synchronized {
        if (fs.exists(dst)) throw lost(s"$dst already sealed")
        // create(overwrite = false) sharpens the in-JVM guarantee on
        // stores that honor it; the object-store PUT itself commits
        // all-or-nothing on close.
        //
        // An exclusive-create REFUSAL means a contract-violating
        // cross-JVM sealer won between the exists check and the
        // create: dst is the OTHER writer's validly sealed manifest.
        // It must surface as a lost seal, NOT fall into the torn-dst
        // cleanup below — deleting it would convert the loud
        // collision into a silent lost update (a retry would reseal
        // the emptied slot), exactly the failure the publisher
        // contract exists to prevent.
        val out =
          try fs.create(dst, false)
          catch {
            case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException
                    | _: java.nio.file.FileAlreadyExistsException) =>
              throw lost(s"$dst sealed by a concurrent writer " +
                s"outside this JVM's lock: $e")
          }
        try {
          try {
            val in = fs.open(tmp)
            try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536,
              false)
            finally in.close()
          } finally out.close()
        } catch {
          case t: Throwable =>
            // a failed copy must not leave a torn dst occupying the
            // generation (the close() in the unwinding path completes
            // whatever partial PUT the store buffered) — delete it
            // under the held lock so every retry finds a clean slot.
            // A FAILED cleanup must be loud, not swallowed: a torn
            // dst that survives here passes every retry's exists
            // check as "already sealed" and poisons latest() — the
            // exact permanent wedge this cleanup exists to prevent.
            val cleaned =
              try fs.delete(dst, false) || !fs.exists(dst)
              catch {
                case c: Throwable => t.addSuppressed(c); false
              }
            if (!cleaned) t.addSuppressed(new IllegalStateException(
              s"cleanup of torn $dst FAILED — the slot is poisoned; " +
                "remove the file manually before retrying the seal"))
            throw t
        }
      }
    }
  }

  /** The store primitive a MULTI-DRIVER object-store deployment must
    * supply: atomically create `dst` with exactly `bytes` IFF no
    * object exists there, returning whether THIS call created it.
    * This is the DynamoDB-style LogStore recipe Delta Lake documents
    * for S3, reduced to its one load-bearing call — and since S3
    * itself now offers conditional writes (`If-None-Match: *` on
    * PUT), an adapter can be a one-liner against the store's own API
    * with no side table at all.
    *
    * Contract (everything the seal protocol guarantees reduces to
    * these three clauses):
    *   - EXCLUSIVE: across all drivers, at most one concurrent
    *     `putIfAbsent(dst, _)` returns true;
    *   - ALL-OR-NOTHING: after a true return, `dst` is readable
    *     through the FileSystem with exactly `bytes` — a false return
    *     or a crash leaves whatever was there before, never a torn
    *     object;
    *   - a thrown exception means UNKNOWN outcome and propagates
    *     as-is (never as a lost-seal) so the operator investigates
    *     instead of resealing over an undetermined slot. */
  trait PutIfAbsentStore {
    def putIfAbsent(dst: Path, bytes: Array[Byte]): Boolean
  }

  /** Hadoop conf key naming a [[PutIfAbsentStore]] adapter class
    * (zero-arg constructor; `org.apache.hadoop.conf.Configurable`
    * adapters receive the FileSystem's conf) — the MULTI-DRIVER
    * migration path for raw object stores: unlike
    * [[SingleDriverConfKey]]'s process-wide lock, exclusion here
    * comes from the store itself, so sealers in different driver
    * JVMs collide loudly too. */
  val CondPutConfKey = "graft.seal.condput.store"

  /** Seal publisher over a [[PutIfAbsentStore]]: publish IS the
    * store's conditional put — no check-then-put window, no JVM
    * lock, no shared state between publisher instances (two driver
    * JVMs each build their own; the STORE is the arbiter, which is
    * exactly what the race spec proves). */
  private[graft] final class ConditionalPutPublisher(
      store: PutIfAbsentStore) extends SealPublisher {
    def publish(fs: FileSystem, tmp: Path, dst: Path,
                lost: String => Exception): Unit = {
      val in = fs.open(tmp)
      val bytes =
        try {
          val b = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, b, 65536, false)
          b.toByteArray
        } finally in.close()
      if (!store.putIfAbsent(dst, bytes))
        throw lost(s"$dst already sealed (conditional put refused)")
    }
  }

  /** REFERENCE [[PutIfAbsentStore]] adapter for stores whose
    * `create(overwrite = false)` is an exclusive create that refuses
    * an existing destination (the LocalFS/HDFS shape): the
    * conditional put IS the exclusive create — claim the slot, write
    * the bytes, close. Named via [[CondPutConfKey]] it exercises the
    * full conf-key resolution path (Class.forName, the Configurable
    * conf hand-off, instance caching) against a real FileSystem,
    * and doubles as the template a production S3/DynamoDB adapter
    * copies: replace the create call with the store's own
    * conditional primitive (`If-None-Match: *` PUT / a DynamoDB
    * conditional write) and the rest carries over.
    *
    * Contract coverage, honestly: EXCLUSIVE holds exactly as far as
    * the store's create(overwrite=false) is atomic (true on HDFS;
    * local filesystems approximate it). ALL-OR-NOTHING is
    * approximated the same way [[SingleDriverPublisher]] does it —
    * a failed write deletes the torn destination loudly — which is
    * the trust class of the rename publisher, not of a true
    * object-store conditional PUT. That is the right fidelity for a
    * REFERENCE adapter: the stores that need this interface in
    * production supply the atomicity themselves. */
  final class AtomicCreateStore extends PutIfAbsentStore
      with org.apache.hadoop.conf.Configurable {
    private var conf = new org.apache.hadoop.conf.Configuration()
    override def setConf(c: org.apache.hadoop.conf.Configuration): Unit =
      if (c != null) conf = c
    override def getConf: org.apache.hadoop.conf.Configuration = conf
    def putIfAbsent(dst: Path, bytes: Array[Byte]): Boolean = {
      val fs = dst.getFileSystem(conf)
      val created =
        try Some(fs.create(dst, false))
        catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException =>
            None
          case _: java.nio.file.FileAlreadyExistsException => None
        }
      created match {
        case None => false
        case Some(out) =>
          try {
            try out.write(bytes) finally out.close()
            true
          } catch {
            case t: Throwable =>
              // a torn dst must not occupy the slot (it would pass
              // every retry's conditional put as "already sealed") —
              // and a FAILED cleanup must be loud, not swallowed
              val cleaned =
                try fs.delete(dst, false) || !fs.exists(dst)
                catch { case c: Throwable => t.addSuppressed(c); false }
              if (!cleaned) t.addSuppressed(new IllegalStateException(
                s"cleanup of torn $dst FAILED — the slot is " +
                  "poisoned; remove the file manually before " +
                  "retrying the seal"))
              throw t
          }
      }
    }
  }

  /** Resolve the [[CondPutConfKey]]-named adapter, if configured.
    * Loud on a class that exists but is not a [[PutIfAbsentStore]] —
    * silently falling through would strand the operator on the very
    * fail-fast the key exists to replace. ONE adapter instance per
    * class name per JVM: publisherFor resolves on EVERY seal (one+
    * per micro-batch on the streaming loops), and a real adapter
    * holds a store client that must not be rebuilt per seal; the
    * instance is configured from the first resolving FileSystem's
    * conf (one Hadoop conf per driver is the deployment this key
    * targets). */
  private val condPutInstances =
    new java.util.concurrent.ConcurrentHashMap[String, SealPublisher]()

  /** Test hook: drop cached adapter instances (specs exercise the
    * creation path repeatedly in one JVM). */
  private[graft] def condPutReset(): Unit = {
    condPutInstances.clear()
    condPutConfSeen.clear()
  }

  // the conf identity each cached adapter was configured from — a
  // later FileSystem presenting a DIFFERENT conf (e.g. per-bucket
  // fs.s3a.bucket.* overrides) would silently arbitrate through the
  // first bucket's settings; the assumption is checked with one
  // warning instead of assumed
  private val condPutConfSeen = new java.util.concurrent
    .ConcurrentHashMap[String, org.apache.hadoop.conf.Configuration]()

  private[graft] def condPutPublisher(fs: FileSystem)
      : Option[SealPublisher] =
    Option(fs.getConf).flatMap(c => Option(c.getTrimmed(CondPutConfKey)))
      .filter(_.nonEmpty).map { cls =>
        val seen = condPutConfSeen.putIfAbsent(cls, fs.getConf)
        if (seen != null && (seen ne fs.getConf))
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            "conditional-put adapter {} was configured from an " +
              "earlier FileSystem's conf; this resolution presents a " +
              "different Configuration object (per-bucket overrides " +
              "will not reach the cached adapter)", cls)
        condPutInstances.computeIfAbsent(cls, _ => {
          // context classloader first (Spark ships plugin jars via
          // --jars into the context loader, not this class's), then
          // our own — Spark's Utils.classForName rule, for the same
          // reason
          val loader = Option(
              Thread.currentThread().getContextClassLoader)
            .getOrElse(getClass.getClassLoader)
          val inst = Class.forName(cls, true, loader)
            .getDeclaredConstructor().newInstance()
          val store = inst match {
            case s: PutIfAbsentStore => s
            case other => throw new IllegalArgumentException(
              s"$CondPutConfKey=$cls does not implement " +
                s"${classOf[PutIfAbsentStore].getName} " +
                s"(got ${other.getClass.getName})")
          }
          store match {
            case c: org.apache.hadoop.conf.Configurable =>
              c.setConf(fs.getConf)
            case _ => ()
          }
          new ConditionalPutPublisher(store)
        })
      }

  /** Resolve the publisher by storage class — and FAIL FAST on stores
    * with no atomic rename-if-absent (raw S3 and friends): running
    * the seal there through a best-effort check-then-publish would
    * silently void the single-writer guarantee, so the raw scheme is
    * rejected until the operator either names a conditional-put store
    * adapter via [[CondPutConfKey]] (the multi-driver path: exclusion
    * arbitrated by the store itself, exactly Delta Lake's documented
    * storage requirement) or opts into the single-driver recipe via
    * [[SingleDriverConfKey]]. ADLS Gen2 (`abfs`/`abfss`) is
    * allowlisted onto the rename publisher: with a hierarchical
    * namespace — the configuration the abfs connector exists for —
    * its rename is atomic and refuses an existing destination (the
    * HDFS contract); a non-HNS blob account must opt into
    * [[SingleDriverPublisher]] instead. */
  private[graft] def publisherFor(fs: FileSystem): SealPublisher = {
    def singleDriverOptIn =
      fs.getConf != null &&
        fs.getConf.getBoolean(SingleDriverConfKey, false)
    fs.getScheme match {
      case "file" => PosixLinkPublisher
      case "hdfs" | "viewfs" | "webhdfs" | "ofs" | "o3fs" =>
        HdfsRenamePublisher
      case "abfs" | "abfss" =>
        // the allowlist presumes a hierarchical-namespace account
        // (atomic rename, the configuration the abfs connector exists
        // for); a NON-HNS blob account's rename is not atomic, so the
        // conditional-put and single-driver migration paths stay
        // reachable for this scheme — without them the old
        // fail-fast's protection would be silently lost for exactly
        // the ambiguous configuration
        condPutPublisher(fs).getOrElse {
          if (singleDriverOptIn) SingleDriverPublisher
          else {
          // best-effort probe: where the connector exposes namespace
          // support (AzureBlobFileSystem#getIsNamespaceEnabled in
          // hadoop-azure builds with a zero-arg overload), a non-HNS
          // account fails FAST here instead of silently running a
          // non-atomic rename as if it were exclusive; connectors
          // without the probe get a one-line warning naming the
          // presumption instead of nothing
          abfsNamespaceEnabled(fs) match {
            case Some(false) => throw new UnsupportedOperationException(
              s"segmented-index seal on ${fs.getUri}: the abfs account " +
                "has NO hierarchical namespace, so rename is not " +
                "atomic and the exclusive seal cannot be guaranteed — " +
                "use an HNS (Data Lake Gen2) account, set " +
                s"$CondPutConfKey to a conditional-put store adapter " +
                s"(multi-driver), or set $SingleDriverConfKey=true if " +
                "every sealer runs in this one driver JVM")
            case Some(true) => ()
            case None =>
              // once per fs URI, not per seal: publisherFor resolves
              // on every seal (one+ per micro-batch on the streaming
              // loops) and an identical WARN per batch buries real
              // warnings
              if (abfsWarned.putIfAbsent(String.valueOf(fs.getUri),
                  java.lang.Boolean.TRUE) == null)
                org.slf4j.LoggerFactory
                  .getLogger(getClass)
                  .warn("segmented-index seal on {}: presuming a " +
                    "hierarchical-namespace (atomic-rename) account — " +
                    "the connector exposes no namespace probe; on a " +
                    "non-HNS blob account set {}=true instead",
                    fs.getUri, SingleDriverConfKey)
          }
          HdfsRenamePublisher
          }
        }
      case other =>
        // migration-path precedence on stores with no atomic
        // rename-if-absent: a configured conditional-put adapter is
        // the strongest guarantee (store-arbitrated, multi-driver),
        // then the single-driver recipe, then fail fast
        condPutPublisher(fs).getOrElse {
          if (singleDriverOptIn) SingleDriverPublisher
          else throw new UnsupportedOperationException(
            s"segmented-index seal on storage scheme '$other': the " +
              "store offers no atomic rename-if-absent, so the " +
              "exclusive seal cannot be guaranteed — set " +
              s"$CondPutConfKey to a PutIfAbsentStore adapter backed " +
              "by the store's conditional put (the DynamoDB-style " +
              "LogStore recipe Delta Lake documents; S3's own " +
              "If-None-Match PUT also satisfies it), or set " +
              s"$SingleDriverConfKey=true if every sealer runs in " +
              "this one driver JVM (the S3SingleDriverLogStore " +
              "contract)")
        }
    }
  }

  private val abfsWarned = new java.util.concurrent
    .ConcurrentHashMap[String, java.lang.Boolean]()

  /** Reflective namespace probe for the abfs connector: Some(flag)
    * when the FileSystem exposes a zero-arg `getIsNamespaceEnabled`
    * (older hadoop-azure builds), None when the method is absent,
    * takes arguments (newer builds thread a TracingContext), or
    * throws — the caller then falls back to a named presumption
    * rather than guessing. Kept reflective so the engine compiles
    * without hadoop-azure on the classpath. */
  private[graft] def abfsNamespaceEnabled(fs: FileSystem)
      : Option[Boolean] =
    try {
      val m = fs.getClass.getMethod("getIsNamespaceEnabled")
      m.invoke(fs) match {
        case b: java.lang.Boolean => Some(b.booleanValue())
        case _ => None
      }
    } catch { case _: Throwable => None }

  /** Seal `m` as generation `m.gen` — EXCLUSIVE publish of a fully
    * written file: a concurrent writer that sealed the same generation
    * first makes this fail loudly, with the caller's staged `_rev`
    * output left unreferenced and the index intact (the machine-checked
    * single-writer rule).
    *
    * Crash safety (write-temp-then-publish, Delta's LogStore rule): the
    * rendered manifest is first written COMPLETELY to a dot-prefixed
    * temp file that [[generations]] never matches, then published into
    * `_gen/m<gen>` by a [[SealPublisher]] — a crash or disk-full
    * mid-write can only ever leave an ignored temp file, never a torn
    * manifest occupying the newest generation number (which would
    * poison every subsequent `latest()` with a parse failure no re-run
    * recovers from). The publisher resolves by storage class
    * ([[publisherFor]]: POSIX hard-link / HDFS rename / fail-fast on
    * raw object stores); `publisher` overrides it for stores with
    * their own atomic-put primitive. */
  def seal(spark: SparkSession, path: String, m: Manifest,
           publisher: Option[SealPublisher] = None): Unit = {
    val fs = fsOf(spark, path)
    fs.mkdirs(genDir(path))
    val p = manifestPath(path, m.gen)
    def lost(detail: String): Exception = new IllegalStateException(
      s"segmented index at $path: generation ${m.gen} was sealed " +
        "by a concurrent writer — this op's output is abandoned " +
        s"(unreferenced) and the index is intact: $detail")
    val tmp = new Path(genDir(path),
      s".m${m.gen}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = fs.create(tmp, true)
    try out.write(render(m).getBytes("UTF-8")) finally out.close()
    try publisher.getOrElse(publisherFor(fs)).publish(fs, tmp, p, lost)
    finally fs.delete(tmp, false)
  }

  /** Generation-0 composition of a PRE-MANIFEST layout, discovered
    * from the live hive tree — the upgrade path: the first sealing
    * writer on a legacy index folds the existing directories in. */
  def bootstrap(spark: SparkSession, path: String,
                specs: Seq[LayoutSpec] = LexicalLayouts): Manifest = {
    val fs = fsOf(spark, path)
    val layouts = specs.map { sp =>
      val d = new Path(if (sp.sub.isEmpty) path else s"$path/${sp.sub}")
      val entries =
        if (!fs.exists(d)) Nil
        else fs.listStatus(d)
          .filter(s => s.isDirectory &&
            s.getPath.getName.startsWith(sp.prefix))
          .flatMap { s =>
            // only pure-integer keys fold into generation 0: a
            // token-suffixed dir (`books_<gen>-<token>` crash debris
            // from a rebuild that died before its first seal) is
            // unreferenced garbage, not a legacy member — parsing it
            // would throw and permanently wedge every retry's
            // bootstrap where the debris is supposed to be invisible
            val key = s.getPath.getName.stripPrefix(sp.prefix)
            if (key.nonEmpty && key.forall(_.isDigit))
              Some(Entry(key.toInt, sp.dirOf(key.toInt)))
            else None
          }.sortBy(_.seg).toSeq
      sp.name -> entries
    }.toMap
    Manifest(0, layouts)
  }

  /** A write-once directory for one maintenance REWRITE targeting
    * `gen` (relative to the index root) — outside the live hive tree
    * so directory discovery never double-reads it, and suffixed with
    * a fresh token so two racing writers targeting the same
    * generation can never overwrite each other's staged output (the
    * loser's seal fails; its directory stays unreferenced until
    * vacuum). */
  def revDir(gen: Int): String =
    s"_rev/g$gen-${java.util.UUID.randomUUID().toString.take(8)}"

  /** Read one layout of a pinned generation as ONE partitioned file
    * scan: a single `HadoopFsRelation` whose file index carries a
    * user-specified partition spec mapping each member directory to
    * its key (`keyCol`, IntegerType — the member's `seg`), so the
    * hive directory names are never parsed and the key column has the
    * same schema as the legacy discovery read. None when the layout
    * has no members (callers supply their empty-schema fallback).
    * Pushed predicates (`term IN`, prefixes) reach the one scan
    * unchanged, and a filter on the key becomes `PartitionFilters`:
    * whole members prune before any of their files is opened.
    *
    * Each member directory is listed ONCE, on the driver; that
    * listing feeds schema inference, seeds the scan's file index
    * (through a `FileStatusCache` client, so the index never lists
    * again — nor launches a parallel-listing job on wide layouts) and
    * picks the read shape: a member whose parquet files sit one level
    * below its directory (a partitioned member) is invisible to a
    * partition spec that names only member directories, so such a
    * layout keeps the per-member union, each branch with the key
    * attached as a literal. A missing member fails the listing loudly.
    *
    * `schema` (when given) makes the read explicit-schema: a member
    * directory holding no parquet files (empty crash debris a legacy
    * bootstrap folded in) then reads as zero rows instead of failing
    * schema inference. Without it, the schema is inferred ONCE from
    * the first member holding data — a layout's members share one
    * schema by construction. The inference is MEMOIZED by (member
    * location, dir mtime) ([[schemaMemo]]): member directories are
    * write-once under the manifest protocol, and the mtime key makes a
    * rewrite in place miss instead of serving a stale schema. */
  def read(spark: SparkSession, path: String, m: Manifest,
           layout: String, keyCol: String = "seg",
           schema: Option[org.apache.spark.sql.types.StructType] = None)
      : Option[DataFrame] = {
    val es = m.entries(layout)
    if (es.isEmpty) None
    else {
      val fs = fsOf(spark, path)
      val dirs = es.map(e => fs.makeQualified(new Path(s"$path/${e.loc}")))
      // located statuses, as Spark's own listing keeps them: block
      // locations drive scan-task locality on HDFS-class stores
      val listed = dirs.map { d =>
        val it = fs.listLocatedStatus(d)
        val b = Array.newBuilder[FileStatus]
        while (it.hasNext) b += it.next()
        b.result()
      }
      val sch = schema.getOrElse {
        // infer from the first member whose directory actually holds
        // data files: an empty member dir (crash debris a legacy
        // bootstrap folded in, the exact case the schema parameter
        // was added for) would otherwise fail inference for the
        // WHOLE layout even though its own read is well-defined
        // (zero rows). All-empty layouts still fail loudly on the
        // head entry — there is no schema to read them under.
        def mtimeOf(p: Path): Option[Long] =
          try Some(fs.getFileStatus(p).getModificationTime)
          catch { case _: java.io.FileNotFoundException => None }
        // a layout's members share ONE schema by construction (the
        // basis of the infer-once rule below), so a memo hit on ANY
        // member serves the whole read. This is what keeps the
        // maintenance loops inference-free: every wave's fresh `_rev`
        // member misses by location, but its carried-over siblings
        // hit (r19's location-only memo re-inferred once per wave —
        // WaveJobProbe job at SegmentManifest.read in every wave).
        // Probe bounded at 8 members so an all-fresh composition (a
        // recenter's full rewrite) pays bounded driver-side stats, not
        // |layout| of them, before falling through to one inference.
        // mtimes captured BEFORE any footer read: a rewrite landing
        // between the two would otherwise memoize the old schema
        // under the new mtime.
        val probes = es.take(8).flatMap { e =>
          val key = s"$path/${e.loc}"
          mtimeOf(new Path(key)).map(mt => (key, mt))
        }
        val hit = probes.iterator
          .flatMap { case (k, mt) => Option(schemaMemo.get((k, mt))) }
          .nextOption()
        val sch0 = hit.getOrElse {
          val withData = es.zip(listed)
            .find { case (_, ls) => holdsData(fs, ls) }
            .map(_._1).getOrElse(es.head)
          spark.read.parquet(s"$path/${withData.loc}").schema
        }
        // propagate to the probed sibling members: the read below
        // applies sch0 to EVERY member anyway (explicit schema), so
        // memoizing it per sibling commits to nothing this read does
        // not already commit to — and it is what keeps an all-dirty
        // maintenance loop hitting wave over wave (each wave's fresh
        // rev members are the next wave's carried locations; without
        // propagation the chain re-infers forever)
        probes.foreach { case (k, mt) => schemaMemo.put((k, mt), sch0) }
        sch0
      }
      if (listed.exists(_.exists(isSubdir)))
        Some(es.map { e =>
          spark.read.schema(sch).parquet(s"$path/${e.loc}")
            .withColumn(keyCol, lit(e.seg))
        }.reduce(_ unionByName _))
      else {
        val cache = FileStatusCache.getOrCreate(spark)
        dirs.zip(listed).foreach { case (d, ls) =>
          cache.putLeafFiles(d, ls.filter(isData)) }
        val keySchema = StructType(Seq(
          StructField(keyCol, IntegerType, nullable = false)))
        val spec = PartitionSpec(keySchema, es.zip(dirs).map {
          case (e, d) => PartitionPath(InternalRow(e.seg), d) })
        val index = new InMemoryFileIndex(spark, dirs, Map.empty, None,
          cache, Some(spec))
        Some(spark.baseRelationToDataFrame(HadoopFsRelation(index,
          keySchema, sch, None, new ParquetFileFormat(), Map.empty)(spark)))
      }
    }
  }

  private def hidden(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    n.startsWith("_") || n.startsWith(".")
  }

  private def isData(st: FileStatus): Boolean =
    st.isFile && !hidden(st)

  private def isSubdir(st: FileStatus): Boolean =
    st.isDirectory && !hidden(st)

  /** Whether a member directory, given its listing `ls`, holds a data
    * file — directly or one level down (a partitioned member). */
  private def holdsData(fs: FileSystem, ls: Array[FileStatus]): Boolean =
    ls.exists(isData) || ls.exists(st =>
      isSubdir(st) && fs.listStatus(st.getPath).exists(isData))

  /** CLONE one pinned generation to a fresh path — the snapshot
    * PUBLISH/EXPORT step of the MVCC story (Delta's `CLONE`, Lucene's
    * snapshot-and-copy backup): ship a maintained index's exact
    * sealed composition to a serving tier, a DR site, or a dev copy,
    * without stopping maintenance at the source. The clone is FULLY
    * INDEPENDENT: only directories the pinned manifest references are
    * copied (same root-relative locations, so the manifest text
    * transfers verbatim), and the manifest is re-sealed at `dstPath`
    * under the same generation number — source waves, recenters, and
    * vacuums after the copy can never reach it, and every pinned
    * reader API ([[latest]]/[[load]]/[[read]], the probe and search
    * entries above them) resolves the clone exactly as it resolved
    * the source generation. Cloning an OLDER retained generation is
    * time-travel export: the dst materializes a historical snapshot
    * as a live index.
    *
    * Scale shape: one copy task per referenced member directory (the
    * distcp shape — segments/cells are the natural copy unit and each
    * holds one compact file by the writers' `repartition` discipline),
    * shipped as a Spark job so a 10⁴-cell index copies with cluster
    * parallelism, not a driver loop. The final seal is the atomic
    * publish: a crash mid-copy leaves an unreferenced dst tree that
    * no reader ever sees (dst has no sealed generation), and a retry
    * re-copies idempotently (per-dir delete-then-copy).
    *
    * Contract edges, loud or documented:
    *   - `srcPath` must have a sealed generation (legacy pre-manifest
    *     layouts have no pinned composition — run one maintenance
    *     wave, or `seal(bootstrap(...))`, first);
    *   - `dstPath` must hold NO sealed generation (cloning into a
    *     live index would silently fork its history; debris from a
    *     crashed clone attempt is fine — there is no manifest, so the
    *     retry overwrites it);
    *   - marker layouts ([[ModelMarker]]) carry over in the manifest
    *     but reference no directory — model ARTIFACTS stored outside
    *     the index root (the streaming loops' `cents/gen=N` stores)
    *     are the caller's to ship alongside, exactly as they are the
    *     caller's to retain under vacuum. */
  def cloneGeneration(spark: SparkSession, srcPath: String,
                      dstPath: String, gen: Option[Int] = None,
                      publisher: Option[SealPublisher] = None)
      : Manifest = {
    val m = gen match {
      case Some(g) => load(spark, srcPath, g)
      case None => latest(spark, srcPath).getOrElse(
        throw new IllegalArgumentException(
          s"cloneGeneration: no sealed generations at $srcPath — a " +
            "legacy (pre-manifest) layout has no pinned composition " +
            "to clone; run one maintenance wave (or seal a bootstrap " +
            "manifest) first"))
    }
    require(generations(spark, dstPath).isEmpty,
      s"cloneGeneration: $dstPath already holds sealed generations — " +
        "clone targets a fresh path (cloning into a live index would " +
        "silently fork its history); to advance an EXISTING clone to " +
        "a newer source generation use syncClone")
    // marker entries drop out by LAYOUT IDENTITY (their loc is
    // documentation, no directory) — NOT by physical existence: an
    // existence filter would also silently skip a genuinely missing
    // non-marker member (external damage [[audit]] exists to catch)
    // and then seal a manifest referencing a member it never copied,
    // publishing a corrupt clone whose explicit-schema reads serve
    // the member as silent zero rows. A missing referenced member
    // now fails LOUDLY inside the copy job instead.
    copyLocs(spark, srcPath, dstPath, physicalLocs(m))
    seal(spark, dstPath, m, publisher)
    m
  }

  /** INCREMENTAL publish to an existing clone — the rsync of
    * [[cloneGeneration]], and the shape a serving tier actually runs
    * (re-publishing after every source wave): advance `dstPath` to a
    * newer source generation copying ONLY the member directories the
    * clone does not already reference. The skip rule is sound by the
    * engine's write-once discipline: a member location is created
    * exactly once and never mutated in place (maintenance REWRITES
    * land under fresh token-suffixed `_rev` dirs), so within one
    * index lineage loc-identity IS content-identity — a recrawl wave
    * that touched 3 of 10⁴ cells publishes 3 directory copies plus
    * one manifest seal, not a full re-clone.
    *
    * Lineage is CHECKED, not assumed, whenever ANY generation is
    * still retained on both sides: the newest shared generation must
    * render bit-identically (a dst never cloned from this source
    * fails loudly instead of silently skipping same-named dirs with
    * foreign content), and because vacuum drops oldest-first, a
    * retained shared history also makes forks decisive — a clone
    * that sealed a generation the source never had, while the source
    * still retains an older shared one, is refused as a fork rather
    * than trusted. Only once the source has vacuumed past the
    * clone's ENTIRE history is the check impossible; that sync is
    * logged as trust-only and the write-once contract carries the
    * guarantee alone (documented, same trust class as vacuum's own
    * retention contract).
    *
    * The clone RETAINS its previous generations (its own pinned
    * readers keep their snapshots — the dst is a real MVCC index);
    * reclaim them with [[vacuum]] at the clone on its own dial.
    * Crash safety is [[cloneGeneration]]'s: copies are invisible
    * until the seal, the re-run re-copies idempotently. Returns the
    * copied locations (the delta — ≤ the wave's dirty members, the
    * audit the refresh ops also return). */
  def syncClone(spark: SparkSession, srcPath: String, dstPath: String,
                gen: Option[Int] = None,
                publisher: Option[SealPublisher] = None)
      : Seq[String] = {
    val m = gen match {
      case Some(g) => load(spark, srcPath, g)
      case None => latest(spark, srcPath).getOrElse(
        throw new IllegalArgumentException(
          s"syncClone: no sealed generations at $srcPath"))
    }
    val dstGens = generations(spark, dstPath)
    require(dstGens.nonEmpty,
      s"syncClone: $dstPath holds no sealed generation — use " +
        "cloneGeneration for the first publish")
    require(dstGens.last < m.gen,
      s"syncClone: clone at $dstPath is already at generation " +
        s"${dstGens.last} >= source generation ${m.gen} — nothing " +
        "newer to publish")
    // lineage check over the NEWEST generation both sides still
    // retain (not only dstGens.last): the shared generation must
    // render bit-identically — else dst is not a clone of THIS
    // source and the skip rule below would pair foreign content.
    // Vacuum drops the oldest manifests first, so the source's
    // retained set is a suffix of everything it ever sealed — which
    // makes a retained-but-shared history DECISIVE about forks: if
    // the source retains some shared generation g yet does not
    // retain dstGens.last > g, it never SEALED dstGens.last, i.e.
    // the clone sealed a generation of its own (forked) and is no
    // longer a publish target. Only when NO generation is shared
    // (source vacuumed past the clone's entire history) is the check
    // impossible — that sync is logged as trust-only, carried by the
    // write-once contract alone.
    val srcGens = generations(spark, srcPath)
    val shared = dstGens.filter(srcGens.contains)
    if (shared.nonEmpty) {
      val g = shared.last
      require(render(load(spark, srcPath, g)) ==
              render(load(spark, dstPath, g)),
        s"syncClone: $dstPath generation $g differs from $srcPath's " +
          "— the dst is not a clone of this source; re-clone to a " +
          "fresh path instead")
      require(srcGens.contains(dstGens.last),
        s"syncClone: $dstPath sealed generation ${dstGens.last} " +
          s"which $srcPath never sealed (the source still retains " +
          s"shared generation $g) — the clone has FORKED locally and " +
          "is no longer a publish target; re-clone to a fresh path")
    } else
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        "syncClone {} -> {}: lineage check SKIPPED — the source " +
          "retains none of the clone's generations (vacuumed past " +
          "them), so this sync proceeds on the write-once trust " +
          "contract alone", srcPath, dstPath)
    val dstRefd: Set[String] = dstGens
      .map(load(spark, dstPath, _))
      .flatMap(_.layouts.values.flatten.map(_.loc)).toSet
    // marker layouts excluded by identity; a missing referenced
    // member fails loudly in the copy job (see cloneGeneration)
    val delta = physicalLocs(m).filterNot(dstRefd.contains)
    copyLocs(spark, srcPath, dstPath, delta)
    seal(spark, dstPath, m, publisher)
    delta
  }

  /** The locations a manifest physically references — every layout's
    * members EXCEPT marker layouts ([[ModelMarker]]), whose loc is
    * documentation and never resolves to a directory. This is the
    * copy set of the clone ops: selection is by layout IDENTITY, so
    * a referenced member that is physically missing stays in the set
    * and fails the copy loudly instead of being silently skipped. */
  private def physicalLocs(m: Manifest): Seq[String] =
    m.layouts.collect { case (l, es) if l != ModelMarker => es }
      .flatten.map(_.loc).toSeq.distinct

  /** The distributed member-directory copy behind [[cloneGeneration]]
    * and [[syncClone]]: one task per location (the distcp shape —
    * member dirs hold one compact file by the writers' `repartition`
    * discipline), delete-then-copy per dir so a crashed attempt's
    * debris is replaced, never nested under. Slices scale with the
    * cluster (`defaultParallelism * 4`, capped by the member count)
    * and the source existence check runs INSIDE each task — the
    * driver pays zero per-member RPCs before the job starts, and a
    * missing referenced member (external damage at the source) fails
    * the job loudly instead of publishing a corrupt clone. */
  private def copyLocs(spark: SparkSession, srcPath: String,
                       dstPath: String, locs: Seq[String]): Unit =
    if (locs.nonEmpty) {
      val confW = new org.apache.spark.SerializableWritable(
        spark.sparkContext.hadoopConfiguration)
      val (src, dst) = (srcPath, dstPath)
      val slices = math.max(1, math.min(locs.size,
        spark.sparkContext.defaultParallelism * 4))
      spark.sparkContext
        .makeRDD(locs, slices)
        .foreach { loc =>
          val c = confW.value
          val sp = new Path(s"$src/$loc")
          val dp = new Path(s"$dst/$loc")
          val sfs = sp.getFileSystem(c)
          val dfs = dp.getFileSystem(c)
          if (!sfs.exists(sp))
            throw new java.io.FileNotFoundException(
              s"clone copy: referenced member $loc is MISSING at " +
                s"$src — the source index is damaged (external " +
                "deletion or botched retention tooling); run audit() " +
                "at the source instead of publishing a corrupt clone")
          // delete-then-copy: FileUtil.copy onto an EXISTING dst dir
          // (a crashed prior attempt) nests src under it instead of
          // replacing it — the retry must find a clean slot
          if (dfs.exists(dp)) dfs.delete(dp, true)
          else dfs.mkdirs(dp.getParent)
          if (!org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp,
              false, true, c))
            throw new java.io.IOException(
              s"clone copy of $loc refused")
        }
    }

  /** One [[audit]] finding: a referenced member that is physically
    * missing or holds no data file. */
  final case class AuditFinding(gen: Int, layout: String, loc: String,
                                problem: String)

  /** [[audit]]'s report: per-generation integrity of every retained
    * manifest plus the layout's vacuum debt. `healthy` means every
    * referenced member is present and non-empty — the invariant every
    * maintenance op preserves, so a finding is always external damage
    * (manual deletion, botched retention tooling, a foreign process
    * in the index root) caught BEFORE a probe fails opaquely or — the
    * quiet failure mode — an explicit-schema read serves a silently
    * emptied member as zero rows. */
  final case class AuditReport(generations: Seq[Int],
                               findings: Seq[AuditFinding],
                               unreferencedDirs: Long) {
    def healthy: Boolean = findings.isEmpty
  }

  /** INTEGRITY AUDIT (fsck) of a manifested index — the operational
    * check a serving tier runs after a [[cloneGeneration]]/[[syncClone]]
    * publish and a storage team runs on retention alarms: for every
    * RETAINED generation, every referenced member directory must
    * exist and hold at least one data file (one level of nesting
    * tolerated, matching [[read]]'s schema-inference rule); marker
    * layouts ([[ModelMarker]]) reference no directory and are skipped.
    * Unreferenced directories (crash debris + superseded history —
    * vacuum debt, reclaimable, NEVER a finding) are counted with the
    * same sweep [[vacuum]] deletes by.
    *
    * Pure read: nothing is mutated, so it is safe against a live
    * index (a wave sealing mid-audit can at worst add a generation
    * the audit didn't see — re-run for a fresh pin). Driver-side
    * directory listings only (the manifest's own boundedness:
    * generations × members).
    *
    * The debt SWEEP's layout specs are DERIVED from the layouts the
    * retained manifests actually reference (any lexical layout pulls
    * in the whole lexical family — an index whose tombstones emptied
    * out still gets its tombstone debris counted), so auditing a
    * vector or IVF-PQ index without passing specs sweeps the cell /
    * books roots instead of scanning nonexistent postings dirs and
    * misreporting `unreferencedDirs = 0`. Pass `specs` explicitly
    * only for layouts this module does not know by name (loud
    * otherwise — a silent partial sweep is the bug this derivation
    * replaces). */
  def audit(spark: SparkSession, path: String,
            specs: Seq[LayoutSpec] = Nil): AuditReport = {
    val fs = fsOf(spark, path)
    val gens = generations(spark, path)
    // same contract as vacuum: a legacy (pre-manifest) layout has no
    // referenced set to check against — every live dir would read as
    // debt, a misleading report rather than a useful one
    require(gens.nonEmpty,
      s"audit: no sealed generations at $path — a legacy " +
        "(pre-manifest) layout has no referenced composition to " +
        "check; seal one (bootstrap or a maintenance wave) first")
    val manifests = gens.map(g => g -> load(spark, path, g))
    val sweepSpecs =
      if (specs.nonEmpty) specs
      else {
        val present = manifests.flatMap(_._2.layouts.keys).toSet -
          ModelMarker
        val known = (LexicalLayouts :+ CellLayout :+ BooksLayout)
          .map(sp => sp.name -> sp).toMap
        val unknown = present.filterNot(known.contains)
        require(unknown.isEmpty,
          s"audit: index at $path references layouts " +
            s"${unknown.toSeq.sorted.mkString(", ")} this module does " +
            "not know the physical shape of — pass `specs` explicitly " +
            "so the debt sweep covers them (a silent partial sweep " +
            "would misreport unreferencedDirs)")
        (if (present.exists(Layouts.contains)) LexicalLayouts else Nil) ++
          Seq(CellLayout, BooksLayout).filter(sp =>
            present.contains(sp.name))
      }
    val markerLayouts = Set(ModelMarker)
    val findings = for {
      (g, m) <- manifests
      (layout, es) <- m.layouts.toSeq.sortBy(_._1)
      if !markerLayouts.contains(layout)
      e <- es.sortBy(_.seg)
      d = new Path(s"$path/${e.loc}")
      problem <- {
        if (!fs.exists(d)) Some("missing")
        else if (!holdsData(fs, fs.listStatus(d))) Some("empty")
        else None
      }
    } yield AuditFinding(g, layout, e.loc, problem)
    // vacuum debt: the same sweep vacuum reclaims by, counted not
    // deleted — dirs under the layout roots and _rev that no retained
    // manifest references
    val referenced: Set[String] = manifests
      .flatMap { case (_, m) =>
        sweepSpecs.flatMap(sp => m.entries(sp.name).map(_.loc)) }
      .toSet
    var unref = 0L
    def sweep(parent: Path, locPrefix: String, prefix: String): Unit =
      if (fs.exists(parent))
        for (st <- fs.listStatus(parent)
             if st.isDirectory && st.getPath.getName.startsWith(prefix)) {
          val loc =
            if (locPrefix.isEmpty) st.getPath.getName
            else s"$locPrefix/${st.getPath.getName}"
          if (!referenced.contains(loc)) unref += 1
        }
    for (sp <- sweepSpecs)
      sweep(new Path(if (sp.sub.isEmpty) path else s"$path/${sp.sub}"),
        sp.sub, sp.prefix)
    val revRoot = new Path(s"$path/_rev")
    if (fs.exists(revRoot))
      for (g <- fs.listStatus(revRoot) if g.isDirectory;
           sp <- sweepSpecs) {
        val base = if (sp.sub.isEmpty) g.getPath
          else new Path(g.getPath, sp.sub)
        val pfx = if (sp.sub.isEmpty) s"_rev/${g.getPath.getName}"
          else s"_rev/${g.getPath.getName}/${sp.sub}"
        sweep(base, pfx, sp.prefix)
      }
    AuditReport(gens, findings, unref)
  }

  /** VACUUM: reclaim physical directories referenced by none of the
    * newest `keepGenerations` manifests, and drop the older manifest
    * files — the Delta-vacuum analog that bounds the write-once
    * layout's disk growth. Everything at or above the retention floor
    * (including `asOfGeneration` reads) is untouched; a read pinned
    * BELOW the floor fails loudly at [[load]] afterwards — retention
    * is the operator's lever for how far history must reach, exactly
    * Delta's retention-interval contract (do not vacuum below the
    * oldest generation a long-running reader may still hold).
    * Returns (directories deleted, directories kept). */
  def vacuum(spark: SparkSession, path: String,
             keepGenerations: Int,
             specs: Seq[LayoutSpec] = LexicalLayouts): (Long, Long) = {
    require(keepGenerations >= 1,
      s"vacuum: keepGenerations must be >= 1, got $keepGenerations")
    val fs = fsOf(spark, path)
    val gens = generations(spark, path)
    require(gens.nonEmpty,
      s"vacuum: no sealed generations at $path — nothing to reclaim " +
        "(write through the maintenance ops to seal one)")
    val keep = gens.takeRight(keepGenerations)
    val referenced: Set[String] = keep
      .map(load(spark, path, _))
      .flatMap(m => specs.flatMap(sp => m.entries(sp.name).map(_.loc)))
      .toSet
    var removed = 0L
    var kept = 0L
    def sweepDirs(parent: Path, locPrefix: String,
                  prefix: String): Unit =
      if (fs.exists(parent))
        for (st <- fs.listStatus(parent)
             if st.isDirectory && st.getPath.getName.startsWith(prefix)) {
          val loc =
            if (locPrefix.isEmpty) st.getPath.getName
            else s"$locPrefix/${st.getPath.getName}"
          if (referenced.contains(loc)) kept += 1
          else {
            require(fs.delete(st.getPath, true),
              s"vacuum: failed to delete $loc")
            removed += 1
          }
        }
    for (sp <- specs)
      sweepDirs(new Path(if (sp.sub.isEmpty) path else s"$path/${sp.sub}"),
        sp.sub, sp.prefix)
    val revRoot = new Path(s"$path/_rev")
    if (fs.exists(revRoot))
      for (g <- fs.listStatus(revRoot) if g.isDirectory) {
        for (sp <- specs) {
          val base = if (sp.sub.isEmpty) g.getPath
            else new Path(g.getPath, sp.sub)
          val pfx = if (sp.sub.isEmpty)
              s"_rev/${g.getPath.getName}"
            else s"_rev/${g.getPath.getName}/${sp.sub}"
          sweepDirs(base, pfx, sp.prefix)
        }
        // a rev dir whose every layout emptied out is itself garbage
        if (fs.listStatus(g.getPath).forall(st =>
            !fs.exists(st.getPath) || !st.isDirectory ||
              fs.listStatus(st.getPath).isEmpty))
          fs.delete(g.getPath, true)
      }
    for (g <- gens.dropRight(keepGenerations))
      require(fs.delete(manifestPath(path, g), false),
        s"vacuum: failed to drop manifest $g")
    (removed, kept)
  }

  private def render(m: Manifest): String = {
    val sb = new StringBuilder
    sb.append(s"gen=${m.gen}\n")
    for (l <- m.layouts.keys.toSeq.sorted; e <- m.entries(l))
      sb.append(s"$l\t${e.seg}\t${e.loc}\n")
    sb.toString
  }

  private def parse(txt: String): Manifest = {
    val lines = txt.split("\n").filter(_.nonEmpty)
    require(lines.nonEmpty && lines.head.startsWith("gen="),
      s"malformed manifest: ${lines.headOption.getOrElse("<empty>")}")
    val gen = lines.head.stripPrefix("gen=").toInt
    val entries = lines.tail.map { ln =>
      val parts = ln.split("\t")
      require(parts.length == 3, s"malformed manifest line: $ln")
      (parts(0), Entry(parts(1).toInt, parts(2)))
    }
    Manifest(gen,
      entries.groupBy(_._1).map { case (l, es) =>
        l -> es.map(_._2).toSeq }.toMap)
  }
}
