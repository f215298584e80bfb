package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FileStatusCache,
  HadoopFsRelation, InMemoryFileIndex, PartitionPath, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType,
  MapType, StructField, StructType}

import graft.engine.ArtifactMemo

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

  /** Schema-inference memo for [[read]], one entry per member location
    * under the [[ArtifactMemo]] key. Member dirs are write-once by
    * protocol; the key makes that MACHINE-CHECKED (r19 verdict item 3):
    * a rewrite in place (a replayed append, an unsanctioned edit)
    * misses, so a stale schema never serves. */
  private val memberSchemas = new ArtifactMemo[StructType](8192)

  private def widenNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = widenNullable(f.dataType), nullable = true)))
    case a: ArrayType =>
      a.copy(elementType = widenNullable(a.elementType), containsNull = true)
    case m: MapType => m.copy(keyType = widenNullable(m.keyType),
      valueType = widenNullable(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** Writer-side warm-up of the schema memo: a maintenance writer that
    * just staged member directories under `locs` declares their shared
    * schema, so the NEXT read of the layout skips footer inference even
    * when EVERY member is fresh (the all-dirty wave / tiered-fold
    * shape, where no carried-over sibling serves a hit). The schema is
    * widened to nullable, which only ADDS null handling relative to
    * footer inference, so a read under it is value-identical. */
  private[graft] def declareSchema(spark: SparkSession, path: String,
                                   locs: Seq[String],
                                   schema: StructType): Unit = {
    val sch = widenNullable(schema).asInstanceOf[StructType]
    locs.take(64).foreach { loc =>
      try memberSchemas.put(ArtifactMemo.keyOf(spark, s"$path/$loc"), sch)
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

  /** Resolve the publisher by storage class — the store rule: a hard
    * link on POSIX local filesystems, an atomic rename on the HDFS
    * class, and FAIL FAST on every other scheme (the S3, GCS and
    * Azure object stores included). The exclusive seal needs an
    * atomic rename-if-absent that the filesystem class guarantees; a
    * best-effort check-then-publish anywhere else would silently void
    * the single-writer rule. The scheme alone decides. */
  private[graft] def publisherFor(fs: FileSystem): SealPublisher =
    fs.getScheme match {
      case "file" => PosixLinkPublisher
      case "hdfs" | "viewfs" | "webhdfs" | "ofs" | "o3fs" =>
        HdfsRenamePublisher
      case other => throw new UnsupportedOperationException(
        s"segmented-index seal on storage scheme '$other': the store " +
          "offers no atomic rename-if-absent, so the exclusive seal " +
          "cannot be guaranteed — seal on a local filesystem or an " +
          "HDFS-class store")
    }

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
    * recovers from). The publisher is [[publisherFor]]'s store rule
    * (hard link on local filesystems, atomic rename on HDFS-class
    * stores, fail-fast on any other scheme); `publisher` substitutes
    * it, which is how the seam spec races two sealers through a
    * deliberately non-atomic fake. */
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
    * schema by construction — and MEMOIZED per member
    * ([[memberSchemas]]), keyed from that member's listing above. */
  def read(spark: SparkSession, path: String, m: Manifest,
           layout: String, keyCol: String = "seg",
           schema: Option[StructType] = None)
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
        // a layout's members share ONE schema, so a memo hit on ANY
        // member serves the whole read: every wave's fresh `_rev`
        // member misses by location, but its carried-over siblings
        // hit. Probe bounded at 8 members. Keys come from the listing,
        // taken BEFORE any footer read: a rewrite landing between the
        // two would otherwise memoize the old schema under the new key.
        val probes = es.take(8).zip(listed).map { case (e, ls) =>
          ArtifactMemo.keyOf(s"$path/${e.loc}", ls.toSeq)
        }
        val hit = probes.iterator.flatMap(memberSchemas.peek).nextOption()
        val sch0 = hit.getOrElse {
          // infer from the first member holding data files: an empty
          // member dir (crash debris a legacy bootstrap folded in)
          // reads as zero rows and must not fail the WHOLE layout.
          // All-empty layouts fail loudly on the head entry.
          val withData = es.zip(listed)
            .find { case (_, ls) => holdsData(fs, ls) }
            .map(_._1).getOrElse(es.head)
          spark.read.parquet(s"$path/${withData.loc}").schema
        }
        // propagate to the probed siblings: the read below applies
        // sch0 to EVERY member anyway, and each wave's fresh members
        // are the next wave's carried ones, so an all-dirty loop keeps
        // hitting instead of re-inferring forever
        probes.foreach(memberSchemas.put(_, sch0))
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
                      dstPath: String, gen: Option[Int] = None)
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
    seal(spark, dstPath, m)
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
                gen: Option[Int] = None): Seq[String] = {
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
    seal(spark, dstPath, m)
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
