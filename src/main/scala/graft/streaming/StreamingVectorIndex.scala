package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.engine.ArtifactMemo
import graft.operators.{ProductQuantize, SegmentManifest, Similarity}

/** X2 × W — CONTINUOUS vector-index maintenance: the streaming
  * counterpart of the batch drift loops
  * ([[Similarity.ivfRefreshOrRecenter]] /
  * [[ProductQuantize.ivfPqRefreshOrRecenter]]), mirroring
  * [[StreamingLexicalIndex]] for the dense side. Every micro-batch of
  * embedding UPSERTS/DELETES (rows `idCol | vecCol | op` with
  * op ∈ upsert/delete) drives one maintenance wave: snapshot update,
  * cell-incremental refresh, drift gauges, and — on a breach of the
  * fit-time baseline (the shared [[Similarity.driftBreached]] rule) —
  * a deterministic recenter + rebuild. `foreachBatch` is the right
  * tool exactly as on the lexical side: refresh and rebuild are batch
  * operators with commit protocols of their own, and `batchId`
  * supplies the monotone GENERATION numbers the state store keys on.
  *
  * State under `root` (all of it on storage, none in the driver — a
  * restarted stream resumes from the layout alone):
  *
  *   - `snapfull/gen=<g>` + `snapdelta/gen=<g>`: the snapshot store
  *     as a DELTA CHAIN (gen = batchId + 1; [[bootstrap*]] writes
  *     full gen=0). Each wave appends only its delta — a DELTA-SIZED
  *     write, never a corpus rewrite; the corpus materializes only
  *     at compaction (every `compactEvery` waves, staged + renamed)
  *     and at recenter (which pays the corpus read anyway and
  *     doubles as compaction). "Snapshot at g" = largest full ≤ g
  *     plus the deltas strictly between, folded in order
  *     ([[readSnapshot]]) — chain length, and hence fold plan depth,
  *     is bounded by compactEvery.
  *   - `cents/gen=<g>` + `baseline/gen=<g>`: the centroid model and
  *     its fit-time drift gauges, written at bootstrap and at each
  *     recenter; the CURRENT model is the largest generation.
  *   - `index/`: the cell-partitioned index (int8 codes, or the
  *     IVF-PQ codebooks+codes root), maintained in place.
  *   - `_RECENTER_PENDING`: sealed marker carrying the generation of
  *     an in-flight recenter (see the replay argument).
  *
  * == Replay safety ==
  *
  * A failed micro-batch is REPLAYED with the same batchId and the
  * same data. Every step converges under that replay:
  *
  *   1. SNAPSHOT: wave g only APPENDS `snapdelta/gen=g` — the
  *      overwrite is idempotent (same data, same batchId), and a
  *      delta re-written AFTER a compaction already absorbed it is
  *      excluded by the fold rule (only deltas STRICTLY above the
  *      latest full base fold in). A crash mid-compaction leaves
  *      staging garbage, never a partial base: the full snapshot
  *      appears only via rename.
  *   2. CHANGES are derived from the DELTA ALONE (upsert → modified,
  *      delete → removed), never from a diff against the possibly
  *      already-updated snapshot. A key the crashed attempt already
  *      added is simply "modified" on replay: its cell is dirtied and
  *      the identical row re-staged — the refresh never sees
  *      "unchanged" for a row the index might hold only half of.
  *   3. REFRESH COMMIT: with (1) and (2) the replayed refresh runs
  *      with bit-identical (snapshot, changes) inputs. Both loops
  *      commit by MVCC: a crash before the seal leaves unreferenced
  *      rev garbage and the replay re-stages + seals from the last
  *      sealed generation; a crash AFTER the seal makes the replay's
  *      wave a logical no-op (its gone keys are already absent, its
  *      fresh rows re-stage identical content into one more
  *      generation) — either way the composition converges. The
  *      drift stats a crash after the seal left behind describe the
  *      pre-crash generation, so the replay resets them with a full
  *      scan instead of updating them ([[waveDriftStats]]).
  *   4. RECENTER: the breach decision is made ONCE, sealed by the
  *      `_RECENTER_PENDING` marker BEFORE the rebuild. Recovery (the
  *      next wave, or a replay) sees the marker and REPLAYS THE
  *      DECISION, not the gauge: materialize the fold at the sealed
  *      generation as the full snapshot (skip-if-exists), refit from
  *      those WRITTEN files (a pure seeded function of them), rebuild
  *      (an MVCC full-replacement seal — a replay stages identical
  *      content into one more generation, converging), re-gauge,
  *      write the model, clear the marker. Without the marker, a crash between the
  *      rebuild and the model write would leave a cents2-shaped index
  *      governed by cents1 — and a replayed refresh under stale
  *      centroids could double-place rows; the marker makes that
  *      window unreachable. The marker's snapshot chain is never
  *      GC'd out from under it: compaction runs either inside
  *      finishRecenter itself or at the END of a marker-free wave,
  *      and recovery runs FIRST in every wave.
  *   5. MODEL WRITE: tiny coalesced overwrites keyed by generation —
  *      re-running them is idempotent; the marker clears only after
  *      both are on storage.
  *
  * Read/write concurrency, per family — EVERY maintenance op of both
  * loops now commits by MVCC (write-once revs + one exclusive seal),
  * so live probes pinned at plan time never race maintenance at all:
  *
  *   - QUANTIZED loop: refresh waves commit via
  *     [[Similarity.commitCellRefreshMvcc]]; a RECENTER commits via
  *     [[Similarity.ivfRebuildQuantizedMvcc]] (full-replacement seal
  *     carrying the [[graft.operators.SegmentManifest.ModelMarker]]),
  *     closing the wholesale-reset window round 14 left open.
  *     [[probeLiveQuantized]] pins cells + model through ONE
  *     manifest; `historyRetention` bounds the cell-rev history a
  *     pinned reader may still hold (vacuum floored at 2 generations
  *     so a probe pinned one wave back always survives).
  *   - IVF-PQ loop: refresh waves commit under `codes/_rev` + seal;
  *     a recenter commits via [[ProductQuantize.ivfPqRebuildMvcc]],
  *     sealing the retrained CODEBOOKS in the same manifest as the
  *     re-encoded cells — [[probeLiveIvfPq]] pairs codes, books and
  *     model atomically. [[probeAsOfIvfPq]] gives historical reads. */
object StreamingVectorIndex {

  /** The family-specific pieces: the int8 quantized IVF file and the
    * IVF-PQ layout run the identical wave protocol. (Unsealed so the
    * crash-point specs can wrap an ops with fault injection.) Model
    * reads name the written centroid store (`centsLoc`, a
    * `cents/gen=<g>` dir) the caller resolved, and ride its row memo
    * ([[Similarity.centroidRowsAt]]). */
  private[graft] trait IndexOps {
    /** The manifest-bearing index path: its sealed generation tags
      * the drift-stats artifact ([[StatRow.index_gen]]). */
    def cellsPath(root: String): String
    /** Cell-incremental refresh of one wave: `fresh` (idCol, vecCol)
      * are the upserts themselves and `gone` every delta key — changes
      * come from the delta alone. Returns the dirty cells, the pinned
      * base and sealed generations, and each dirty cell's
      * (Δn, Δcd_fp_sum) when the family's per-row kernel fits. */
    def refresh(spark: SparkSession, root: String, centsLoc: String,
                fresh: DataFrame, gone: DataFrame, idCol: String,
                vecCol: String): Similarity.Refreshed
    /** Per-cell drift stats (centroid_id, n, mean_cd, cd_fp_sum,
      * model_fp) of the index under the centroids at `centsLoc` —
      * restricted to `cells` when given (the pruned incremental read;
      * None = full scan). */
    def driftStats(spark: SparkSession, root: String, centsLoc: String,
                   idCol: String, cells: Option[Seq[Long]]): DataFrame
    /** Fingerprint of the model artifacts the family's stats rows are
      * valid under ([[graft.operators.Similarity.modelFingerprint]]) —
      * centroids alone for the int8 file, centroids ⊕ codebooks for
      * IVF-PQ. The wave's carried-stats check compares this against
      * the seal in the previous generation's artifact. */
    def modelFp(spark: SparkSession, root: String,
                centsLoc: String): Long
    /** Full rebuild under the generation-`gen` model — MVCC-committed
      * (write-once `_rev` cells + one exclusive seal), so a live
      * probe pinned before a recenter keeps its generation's
      * directories; the old wholesale-overwrite window is gone. */
    def rebuild(snapshot: DataFrame, cents: DataFrame, idCol: String,
                vecCol: String, root: String, gen: Int): Unit
    def fitCentroids(snapshot: DataFrame, vecCol: String): DataFrame
    /** Reclaim index history a maintenance mode accumulates (the
      * quantized MVCC cell revs); no-op for in-place layouts. */
    def vacuumIndex(spark: SparkSession, root: String,
                    keep: Int): Unit = ()
    /** Generation-keyed copy of any model artifact the rebuild wrote
      * IN PLACE (the IVF-PQ codebooks) — called right after
      * [[rebuild]], so [[probeAsOfIvfPq]] can resolve the model that
      * governed generation g after later recenters overwrote the
      * live copy. Tiny (m·k rows); idempotent overwrite. */
    def snapshotModel(spark: SparkSession, root: String,
                      gen: Int): Unit = ()
  }

  private[graft] final case class QuantizedOps(k: Int, seed: Long)
      extends IndexOps {
    def cellsPath(root: String): String = s"$root/index"
    def refresh(spark: SparkSession, root: String, centsLoc: String,
                fresh: DataFrame, gone: DataFrame, idCol: String,
                vecCol: String): Similarity.Refreshed =
      // MVCC commit: the wave's dirty cells land write-once + one
      // exclusive seal, so LIVE probes pinned before the seal never
      // race this refresh; the recenter's rebuild seals the same way
      // (ivfRebuildQuantizedMvcc)
      Similarity.refreshQuantizedCells(spark, cellsPath(root),
        Similarity.centroidRowsAt(spark, centsLoc), fresh, gone, idCol,
        vecCol, deltas = true)
    /** Bound the write-once cell history: keep enough generations
      * for in-flight pinned probes (the retention dial), reclaim the
      * rest — a per-wave driver-side sweep. */
    override def vacuumIndex(spark: SparkSession, root: String,
                             keep: Int): Unit =
      if (SegmentManifest.generations(spark, cellsPath(root)).nonEmpty) {
        Similarity.ivfVacuumQuantized(spark, cellsPath(root), keep)
        ()
      }
    def driftStats(spark: SparkSession, root: String, centsLoc: String,
                   idCol: String, cells: Option[Seq[Long]]): DataFrame = {
      import spark.implicits._
      Similarity.ivfDriftStats(spark, cellsPath(root),
        Similarity.centroidRowsAt(spark, centsLoc)
          .toDF("centroid_id", "cvec"),
        cells, modelFpO = Some(modelFp(spark, root, centsLoc)))
    }
    def modelFp(spark: SparkSession, root: String,
                centsLoc: String): Long =
      Similarity.centroidFingerprintAt(spark, centsLoc)
    def rebuild(snapshot: DataFrame, cents: DataFrame, idCol: String,
                vecCol: String, root: String, gen: Int): Unit =
      Similarity.ivfRebuildQuantizedMvcc(snapshot.sparkSession,
        cellsPath(root), snapshot, cents, idCol, vecCol, modelGen = gen)
    def fitCentroids(snapshot: DataFrame, vecCol: String): DataFrame =
      Similarity.learnedCentroids(snapshot, vecCol, k, seed)
  }

  private[graft] final case class IvfPqOps(kCells: Int, m: Int, k: Int,
                                    seed: Long) extends IndexOps {
    def cellsPath(root: String): String = s"$root/index/codes"
    def refresh(spark: SparkSession, root: String, centsLoc: String,
                fresh: DataFrame, gone: DataFrame, idCol: String,
                vecCol: String): Similarity.Refreshed =
      // same refresh-wave MVCC as the quantized loop: write-once
      // cell revs under codes/_rev + one exclusive seal
      ProductQuantize.ivfPqRefreshRows(spark, s"$root/index",
        Similarity.centroidRowsAt(spark, centsLoc), fresh, gone, idCol,
        vecCol)
    override def vacuumIndex(spark: SparkSession, root: String,
                             keep: Int): Unit =
      if (SegmentManifest.generations(spark, cellsPath(root)).nonEmpty) {
        Similarity.ivfVacuumQuantized(spark, cellsPath(root), keep,
          Seq(SegmentManifest.CellLayout, SegmentManifest.BooksLayout))
        ()
      }
    def driftStats(spark: SparkSession, root: String, centsLoc: String,
                   idCol: String, cells: Option[Seq[Long]]): DataFrame =
      ProductQuantize.ivfPqDriftStatsRows(spark, s"$root/index",
        Similarity.centroidRowsAt(spark, centsLoc), idCol, cells,
        modelFpO = Some(modelFp(spark, root, centsLoc)))
    // both halves memoized by location: the centroid store the caller
    // read, and the governing books
    def modelFp(spark: SparkSession, root: String,
                centsLoc: String): Long =
      Similarity.centroidFingerprintAt(spark, centsLoc) ^
        ProductQuantize.booksFingerprintAt(spark,
          ProductQuantize.governingBooksLoc(spark, s"$root/index"))
    // a recenter retrains BOTH artifacts (centroids and codebooks) —
    // the ivfPqRefreshOrRecenter contract; the retrained books seal
    // in the SAME manifest as the re-encoded cells
    def rebuild(snapshot: DataFrame, cents: DataFrame, idCol: String,
                vecCol: String, root: String, gen: Int): Unit =
      ProductQuantize.ivfPqRebuildMvcc(snapshot.sparkSession,
        s"$root/index", snapshot, cents, idCol, vecCol, m, k,
        modelGen = gen, seed = seed)
    def fitCentroids(snapshot: DataFrame, vecCol: String): DataFrame =
      Similarity.learnedCentroids(snapshot, vecCol, kCells, seed)
    override def snapshotModel(spark: SparkSession, root: String,
                               gen: Int): Unit =
      // governing books, manifest-resolved: the generation-keyed copy
      // must snapshot the books the rebuild just SEALED, not the live
      // cache (stale across a crash window)
      ProductQuantize.governingBooks(spark, s"$root/index")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$root/books/gen=$gen")
  }

  /** `ops` wrapper that dies right AFTER [[IndexOps.rebuild]] returns
    * — the recenter crash point the recovery protocol exists for: the
    * `_RECENTER_PENDING` marker is sealed, the rebuilt cells and the
    * published model are on storage, but the model snapshot, stats
    * reset, baseline write and marker clear are all unfinished.
    * Shared by the crash-point specs and the crash-recovery gate row
    * so the injected failure can never drift from the spec'd one. */
  private[graft] def crashAfterRebuild(inner: IndexOps): IndexOps =
    new IndexOps {
      def cellsPath(root: String): String = inner.cellsPath(root)
      def refresh(spark: SparkSession, root: String, centsLoc: String,
                  fresh: DataFrame, gone: DataFrame, idCol: String,
                  vecCol: String): Similarity.Refreshed =
        inner.refresh(spark, root, centsLoc, fresh, gone, idCol, vecCol)
      def driftStats(spark: SparkSession, root: String,
                     centsLoc: String, idCol: String,
                     cells: Option[Seq[Long]]): DataFrame =
        inner.driftStats(spark, root, centsLoc, idCol, cells)
      def modelFp(spark: SparkSession, root: String,
                  centsLoc: String): Long =
        inner.modelFp(spark, root, centsLoc)
      def rebuild(snapshot: DataFrame, cents: DataFrame, idCol: String,
                  vecCol: String, root: String, gen: Int): Unit = {
        inner.rebuild(snapshot, cents, idCol, vecCol, root, gen)
        throw new RuntimeException("injected crash after seal")
      }
      def fitCentroids(snapshot: DataFrame,
                       vecCol: String): DataFrame =
        inner.fitCentroids(snapshot, vecCol)
      override def vacuumIndex(spark: SparkSession, root: String,
                               keep: Int): Unit =
        inner.vacuumIndex(spark, root, keep)
      override def snapshotModel(spark: SparkSession, root: String,
                                 gen: Int): Unit =
        inner.snapshotModel(spark, root, gen)
    }

  // ---- state-store helpers ------------------------------------------

  private def fsOf(spark: SparkSession, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def gens(spark: SparkSession, root: String,
                   sub: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$sub")
    val fs = fsOf(spark, root)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("gen="))
      .map(_.getPath.getName.stripPrefix("gen=").toInt)
      .sorted
  }

  // baseline/gen=N is written once per recenter (replay rewrites are
  // bit-identical), so the two-long read is memoized under the
  // ArtifactMemo key — one less per-wave Spark job; a rewritten store
  // (tests, replays) misses and is read again. One tiny entry per live
  // root × model generation.
  private val baselines = new ArtifactMemo[(Long, Long)](64)

  private[graft] def readBaseline(spark: SparkSession, root: String,
                                  gen: Int): (Long, Long) = {
    val loc = s"$root/baseline/gen=$gen"
    baselines.get(spark, loc) {
      val r = spark.read.parquet(loc).head()
      (r.getAs[Long]("skew_x100"), r.getAs[Long]("mean_cd_fp"))
    }
  }

  /** One driftstats-artifact row, held driver-side through the wave's
    * stats phase: the previous generation's rows are reused for the
    * model-seal check, the carry, the gauge fold AND the commit write.
    * `index_gen` is the index generation the rows describe — the
    * manifest a refresh must have pinned as its base for the rows to
    * carry (a replay after a crash between the refresh seal and the
    * stats commit pins a LATER base, so it never carries them).
    * ≤|cells| rows by construction. */
  private[graft] final case class StatRow(centroid_id: Long, n: Long,
                                          mean_cd: Double,
                                          cd_fp_sum: Long,
                                          model_fp: Long,
                                          index_gen: Long)

  /** The carried-stats memo: [[commitDriftStats]] writes generation
    * g's artifact from driver-side rows, and the very next wave's
    * [[waveDriftStats]] updates those same rows. Under the
    * [[ArtifactMemo]] key: the FILE stays the source of truth, a
    * rewritten artifact (replay, out-of-band tooling) misses and is
    * read back. ≤|cells| rows per entry. */
  private[graft] val carriedStats = new ArtifactMemo[Seq[StatRow]](64)

  private def statsLoc(root: String, gen: Int): String =
    s"$root/driftstats/gen=$gen"

  /** A stats frame's rows, tagged with `indexGen` (a literal for a
    * fresh scan, the stored column for a written artifact). */
  private def collectStats(df: DataFrame,
                           indexGen: Column): Seq[StatRow] =
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      df.select(col("centroid_id").cast("long"), col("n"),
          col("mean_cd"), col("cd_fp_sum"), col("model_fp"),
          indexGen.cast("long"))
        .collect()
        .map(r => StatRow(r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getLong(3), r.getLong(4), r.getLong(5))))

  /** Generation `gen`'s artifact rows: the memo's when this process
    * wrote that very file, else read from it; None when it lacks the
    * model seal or the index-generation tag (a legacy artifact — reset,
    * not carried). */
  private[graft] def priorStats(spark: SparkSession, root: String,
                                gen: Int): Option[Seq[StatRow]] = {
    val loc = statsLoc(root, gen)
    carriedStats.peek(ArtifactMemo.keyOf(spark, loc)).orElse {
      val df = spark.read.parquet(loc)
      if (!Seq("model_fp", "index_gen").forall(df.columns.contains)) None
      else Some(collectStats(df, col("index_gen")))
    }
  }

  /** Write generation `gen`'s per-cell drift stats (≤|cells| rows,
    * one coalesced file) and return the GAUGES folded from the SAME
    * driver-side rows the file is written from — the artifact is the
    * wave's decision input AND the next wave's carried baseline, and
    * because the rows ARE the storage payload the fold and the file
    * cannot diverge. Prunes stats generations below the keep floor
    * (only the newest is ever read; the floor keeps the previous one
    * for the replay of the current wave). */
  private[graft] def commitDriftStats(spark: SparkSession,
                                      root: String, gen: Int,
                                      rows: Seq[StatRow],
                                      keepBelow: Int): (Long, Long) = {
    import spark.implicits._
    rows.toDF().coalesce(1).write.mode("overwrite")
      .parquet(statsLoc(root, gen))
    // memoize the rows just written (key listed AFTER the write so it
    // names this attempt's file, not a prior replay's)
    carriedStats.put(ArtifactMemo.keyOf(spark, statsLoc(root, gen)), rows)
    val fs = fsOf(spark, root)
    for (g <- gens(spark, root, "driftstats")
        if g < gen - math.max(keepBelow, 1)) {
      val p = new org.apache.hadoop.fs.Path(s"$root/driftstats/gen=$g")
      require(fs.delete(p, true) || !fs.exists(p),
        s"StreamingVectorIndex: failed to GC drift stats gen=$g")
    }
    Similarity.ivfDriftGaugesOf(rows.map(r => (r.n, r.cd_fp_sum)))
  }

  /** The wave's post-refresh drift stats, DELTA-BOUNDED: a cell's
    * (n, cd_fp_sum) is a pure function of its codes under FIXED
    * model artifacts, and both are a count and an exact long sum.
    * The previous artifact's rows come from the memo when this
    * process wrote them, else from the file (a fresh process); the
    * memo is only a cache of that file, so both carry alike.
    *
    *   - Δ path: when every carried row is sealed under the current
    *     model and tagged with the index generation the refresh
    *     pinned as its base, each cell's new stats are carried + the
    *     refresh's (Δn, Δcd_fp_sum) — bit-exact, and no index read.
    *     A cell whose n reaches 0 loses its row, as the full scan has
    *     none.
    *   - Pruned rescan: the same seal and tag, but the refresh
    *     returned no deltas (IVF-PQ past the LUT budget): clean cells
    *     carry verbatim and only the dirty cells are rescanned.
    *   - Otherwise one full scan: no artifact yet, a legacy artifact
    *     (no seal or no tag), a model change, or a tag below the base
    *     (a replay after a crash between the refresh seal and the
    *     stats commit, whose refresh saw the crashed attempt's seal —
    *     its deltas are against that seal, not the carried rows).
    * All three equal the full scan row for row — the parity specs
    * pin it, emptied cells included. */
  private def waveDriftStats(spark: SparkSession, root: String,
                             ops: IndexOps, centsLoc: String,
                             idCol: String, gen: Int,
                             r: Similarity.Refreshed): Seq[StatRow] = {
    def scan(cells: Option[Seq[Long]]) = collectStats(
      ops.driftStats(spark, root, centsLoc, idCol, cells), lit(r.gen))
    val prior = gens(spark, root, "driftstats").filter(_ < gen).maxOption
      .flatMap(priorStats(spark, root, _))
    lazy val fpNow = ops.modelFp(spark, root, centsLoc)
    // EVERY carried row must be sealed under the current model and
    // describe the refresh's base — Similarity.requireSameModel's rule:
    // a partially-written or mixed-fp artifact is as invalid as a wrong
    // head row
    prior.filter(prev => prev.nonEmpty && prev.forall(p =>
        p.model_fp == fpNow && p.index_gen == r.baseGen)) match {
      case None => scan(None)
      case Some(prev) =>
        val retag = prev.map(_.copy(index_gen = r.gen))
        r.deltas match {
          case Some(d) => withDeltas(retag, d)
          case None =>
            val dirtySet = r.dirty.toSet
            retag.filterNot(p => dirtySet.contains(p.centroid_id)) ++
              (if (r.dirty.isEmpty) Nil else scan(Some(r.dirty)))
        }
    }
  }

  /** Carried rows + per-cell (Δn, Δcd_fp_sum), in cell order; mean_cd
    * by the stats queries' own rule ([[Similarity.meanCd]]). */
  private def withDeltas(prev: Seq[StatRow],
                         deltas: Map[Long, (Long, Long)]): Seq[StatRow] = {
    val byCell = prev.map(p => p.centroid_id -> p).toMap
    val (fp, tag) = (prev.head.model_fp, prev.head.index_gen)
    (byCell.keySet ++ deltas.keySet).toSeq.sorted.flatMap { c =>
      deltas.get(c) match {
        case None => byCell.get(c)
        case Some((dn, ds)) =>
          val n = byCell.get(c).map(_.n).getOrElse(0L) + dn
          val sum = byCell.get(c).map(_.cd_fp_sum).getOrElse(0L) + ds
          require(n > 0 || (n == 0 && sum == 0),
            s"StreamingVectorIndex: cell $c stat delta leaves n=$n, " +
              s"cd_fp_sum=$sum")
          if (n == 0) None
          else Some(StatRow(c, n, Similarity.meanCd(n, sum), sum, fp, tag))
      }
    }
  }

  /** The written centroid store of model generation `gen`. */
  private def centsLoc(root: String, gen: Int): String =
    s"$root/cents/gen=$gen"

  private def writeCents(spark: SparkSession, root: String, gen: Int,
                         cents: DataFrame): Unit =
    cents.coalesce(1).write.mode("overwrite").parquet(centsLoc(root, gen))

  /** Explicit-schema read of a model generation — the centroid store
    * has one fixed shape, and schema inference on it was a hidden
    * footer-read job every wave (NOTES_r16.md). */
  private def readCents(spark: SparkSession, root: String,
                        gen: Int): DataFrame =
    spark.read.schema("centroid_id BIGINT, cvec ARRAY<DOUBLE>")
      .parquet(centsLoc(root, gen))

  private def writeBaseline(spark: SparkSession, root: String,
                            gen: Int, bl: (Long, Long)): Unit = {
    import spark.implicits._
    Seq(bl).toDF("skew_x100", "mean_cd_fp").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/baseline/gen=$gen")
  }

  private def markerPath(root: String) =
    new org.apache.hadoop.fs.Path(s"$root/_RECENTER_PENDING")

  /** Seal the recenter decision: the marker appears ATOMICALLY via
    * write-temp-then-rename (the manifest seal's own rule). A plain
    * create-write-close could crash mid-write and leave a TORN marker
    * — empty or partial generation text — which recoverPending can
    * never parse, permanently wedging every subsequent wave on a
    * decision that was never actually sealed. With the rename, a
    * crash leaves only dot-prefixed temp debris (ignored by every
    * reader) and the wave replay re-decides from the gauge. The
    * delete-before-rename handles this wave's OWN replayed attempt
    * (same generation — the single-writer contract makes it safe). */
  private def sealMarker(spark: SparkSession, root: String,
                         gen: Int): Unit = {
    val fs = fsOf(spark, root)
    // DETERMINISTIC temp name + clear-before-write (compactSnapshot's
    // rule): a replay reuses — and thereby cleans — its crashed
    // attempt's debris instead of orphaning one temp per crash (the
    // single-writer contract makes the fixed name race-free)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$root/._RECENTER_PENDING.tmp")
    val out = fs.create(tmp, true)
    try out.write(gen.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(markerPath(root), false)
    require(fs.rename(tmp, markerPath(root)),
      s"StreamingVectorIndex: failed to seal the recenter marker at " +
        s"$root")
  }

  /** An as-of `gen` must name a generation some wave actually sealed:
    * the newest state on storage is the max across the snapshot chain
    * and the model store — a gen ABOVE it never existed, and silently
    * serving the live state labeled as it would violate the fail-loud
    * time-travel contract (reads BELOW the retention floor already
    * fail in [[readSnapshot]]). */
  private def requireSealedGen(spark: SparkSession, root: String,
                               gen: Int): Unit = {
    val newest = (gens(spark, root, "snapfull") ++
      gens(spark, root, "snapdelta") ++
      gens(spark, root, "cents")).maxOption.getOrElse(-1)
    require(gen <= newest,
      s"StreamingVectorIndex: generation $gen was never sealed at " +
        s"$root (newest is $newest) — an as-of read above the newest " +
        "generation would silently serve the live state")
  }

  /** The corpus snapshot AT generation `gen`, reconstructed from the
    * delta chain: the largest full snapshot with generation ≤ gen,
    * then every delta STRICTLY between that base and gen folded in
    * ascending order (anti-join the delta's keys, union its upsert
    * rows). The strictly-above-the-base rule is load-bearing twice:
    * the base already contains its own generation's delta (a
    * compaction at g materializes the fold THROUGH g), and a delta
    * REWRITTEN by a replayed wave after its compaction must be
    * ignored. Chain length is bounded by `compactEvery`, so the fold
    * plan depth is bounded too. Exposed to the crash-point specs. */
  private[graft] def readSnapshot(spark: SparkSession, root: String,
                                  gen: Int, idCol: String,
                                  vecCol: String): DataFrame = {
    val fulls = gens(spark, root, "snapfull").filter(_ <= gen)
    require(fulls.nonEmpty,
      s"StreamingVectorIndex: no full snapshot at or below gen=$gen " +
        s"at $root — bootstrap the loop first")
    val base = fulls.max
    var snap = spark.read.parquet(s"$root/snapfull/gen=$base")
      .select(col(idCol), col(vecCol))
    for (d <- gens(spark, root, "snapdelta")
        .filter(g => g > base && g <= gen)) {
      val delta = spark.read.parquet(s"$root/snapdelta/gen=$d")
      snap = snap
        .join(delta.select(col(idCol)), Seq(idCol), "left_anti")
        .unionByName(delta.filter(col("op") === "upsert")
          .select(col(idCol), col(vecCol)))
    }
    snap
  }

  /** Materialize the fold at `gen` as a new full snapshot (staged +
    * renamed — a crash mid-write leaves only staging garbage, never a
    * partial base), then GC the chain below the RETENTION floor: with
    * `retain = R`, every generation in [gen − R, gen] stays
    * reconstructable ([[probeAsOfQuantized]]'s time-travel horizon —
    * Delta's retention-interval contract), so the GC keeps the
    * largest full ≤ gen − R and everything above it, and drops only
    * what no retained read can reach (the fold rule makes lingering
    * leftovers harmless if the GC dies mid-way; the next compaction
    * re-drops them). `retain = 0` is the history-free loop: only the
    * fresh full survives. Skips the write when gen's full already
    * exists — bootstrap wrote it, or a crashed attempt already
    * committed the rename. */
  private def compactSnapshot(spark: SparkSession, root: String,
                              gen: Int, idCol: String,
                              vecCol: String, retain: Int = 0): Unit = {
    val fs = fsOf(spark, root)
    val fullPath = new org.apache.hadoop.fs.Path(s"$root/snapfull/gen=$gen")
    if (!fs.exists(fullPath)) {
      val staging =
        new org.apache.hadoop.fs.Path(s"$root/snapfull/.staging_$gen")
      require(fs.delete(staging, true) || !fs.exists(staging),
        s"StreamingVectorIndex: failed to clear stale $staging")
      readSnapshot(spark, root, gen, idCol, vecCol)
        .write.mode("overwrite").parquet(staging.toString)
      require(fs.rename(staging, fullPath),
        s"StreamingVectorIndex: failed to commit full snapshot gen=$gen")
    }
    // retention floor: the largest full at or below gen − retain;
    // a read at any g ≥ floor finds its base (≥ floor) and its
    // deltas (all > floor are kept)
    val fulls = gens(spark, root, "snapfull")
    val floor = fulls.filter(_ <= gen - retain) match {
      case Nil => Int.MinValue
      case xs => xs.max
    }
    for (g <- fulls.filter(_ < floor)) {
      val p = new org.apache.hadoop.fs.Path(s"$root/snapfull/gen=$g")
      require(fs.delete(p, true) || !fs.exists(p),
        s"StreamingVectorIndex: failed to GC full snapshot gen=$g")
    }
    for (g <- gens(spark, root, "snapdelta").filter(_ <= floor)) {
      val p = new org.apache.hadoop.fs.Path(s"$root/snapdelta/gen=$g")
      require(fs.delete(p, true) || !fs.exists(p),
        s"StreamingVectorIndex: failed to GC snapshot delta gen=$g")
    }
  }

  /** Refit + rebuild + model write for generation `gen`, then clear
    * the marker — every step a pure function of the generation's
    * snapshot fold and the seed, so replaying it from any crash
    * point converges (the scaladoc's recenter argument). The fold is
    * first materialized as the new full snapshot (the recenter pays
    * the corpus read anyway, and fitting from the WRITTEN files
    * keeps the seeded fit deterministic across recovery replays —
    * ML fits are deterministic per physical input layout). Also the
    * bootstrap body. */
  private def finishRecenter(spark: SparkSession, root: String,
                             gen: Int, idCol: String, vecCol: String,
                             ops: IndexOps, retain: Int = 0): Unit =
    graft.engine.Steps.scoped("recenter") {
      compactSnapshot(spark, root, gen, idCol, vecCol, retain)
      val snap = spark.read.parquet(s"$root/snapfull/gen=$gen")
        .select(col(idCol), col(vecCol))
      // no checkpoint: both IndexOps fitCentroids run the ML fit EAGERLY
      // inside learnedCentroids and return a driver-local relation, so
      // re-planning never re-fits — the old pin was one wasted job per
      // recenter/bootstrap (it is also consumed exactly once, by
      // writeCents below; everything downstream reads the WRITTEN file)
      val fitted = ops.fitCentroids(snap, vecCol)
      // publish `cents/gen=<gen>` BEFORE the rebuild seals a manifest
      // whose ModelMarker names generation `gen`: probeLive* resolves
      // the model gen from the sealed manifest and reads this path —
      // sealing first would open a window where the marked cents dir is
      // missing (AnalysisException) or mid-write (silently empty probe),
      // breaking the "cells and model paired atomically" contract. The
      // write is generation-keyed and a pure function of the WRITTEN
      // full snapshot + seed, so a recovery replay overwrites it with
      // identical content; reading the fit back from the published file
      // keeps the rebuild + gauges on the exact stored values.
      writeCents(spark, root, gen, fitted)
      val cents2 = readCents(spark, root, gen)
      ops.rebuild(snap, cents2, idCol, vecCol, root, gen)
      ops.snapshotModel(spark, root, gen)
      // the rebuild re-encoded everything, so the stats artifact resets
      // with one full scan (the recenter pays the corpus read anyway),
      // tagged with the generation the rebuild sealed; subsequent waves
      // go back to delta updates
      val bl2 = commitDriftStats(spark, root, gen,
        collectStats(ops.driftStats(spark, root, centsLoc(root, gen), idCol,
          None), lit(SegmentManifest.latestGen(spark,
            ops.cellsPath(root)).getOrElse(0))),
        retain)
      writeBaseline(spark, root, gen, bl2)
      val fs = fsOf(spark, root)
      require(fs.delete(markerPath(root), false) ||
          !fs.exists(markerPath(root)),
        s"StreamingVectorIndex: failed to clear recenter marker at $root")
      // the rebuild's seal left the pre-recenter cell generations on
      // disk for pinned readers — reclaim by the same retention dial as
      // the refresh waves (never below 2: a probe pinned one wave back
      // must always survive the vacuum that follows)
      ops.vacuumIndex(spark, root, math.max(retain + 1, 2))
    }

  /** Replay a sealed-but-unfinished recenter decision (crash between
    * the marker and the model write). The gauge is NOT re-consulted —
    * the decision was made once; recovery replays it. */
  private def recoverPending(spark: SparkSession, root: String,
                             idCol: String, vecCol: String,
                             ops: IndexOps, retain: Int = 0): Unit = {
    val fs = fsOf(spark, root)
    val mp = markerPath(root)
    if (fs.exists(mp)) {
      val in = fs.open(mp)
      val gen = try scala.io.Source.fromInputStream(in).mkString.trim.toInt
        finally in.close()
      finishRecenter(spark, root, gen, idCol, vecCol, ops, retain)
    }
  }

  // ---- the wave -----------------------------------------------------

  /** One maintenance wave (the foreachBatch body; `private[graft]` so
    * the crash-point specs can drive it directly). */
  private[graft] def applyWave(spark: SparkSession, root: String,
                               delta: DataFrame, batchId: Long,
                               idCol: String, vecCol: String,
                               ops: IndexOps, cdFactorX100: Long,
                               skewFactorX100: Long,
                               compactEvery: Int = 8,
                               historyRetention: Int = 0): Unit = {
    require(batchId >= 0 && batchId < Int.MaxValue,
      s"StreamingVectorIndex: batchId $batchId outside the generation " +
        "range")
    require(compactEvery >= 1,
      s"StreamingVectorIndex: compactEvery must be >= 1, got $compactEvery")
    require(historyRetention >= 0,
      s"StreamingVectorIndex: historyRetention must be >= 0, " +
        s"got $historyRetention")
    val gen = batchId.toInt + 1
    // a crashed recenter (of ANY earlier wave) recovers before this
    // wave touches the index
    recoverPending(spark, root, idCol, vecCol, ops, historyRetention)
    val fs = fsOf(spark, root)
    require(gens(spark, root, "snapfull").nonEmpty,
      s"StreamingVectorIndex: no snapshot store at $root — bootstrap " +
        "the loop first")
    val deltaC = graft.engine.Caching.cached(delta)
    try {
      val opStatus = when(col("op") === "upsert", lit("modified"))
        .when(col("op") === "delete", lit("removed"))
        .otherwise(raise_error(concat(
          lit("StreamingVectorIndex: unknown op "), col("op"))))
      val upserts = deltaC.filter(col("op") === "upsert")
        .select(col(idCol), col(vecCol))
      // 1. snapshot: append THIS wave's delta to the chain — a
      //    delta-sized write, never a corpus rewrite (replay-safety
      //    step 1: the rewrite is idempotent, and a delta re-written
      //    after its compaction is excluded by the fold rule). The
      //    derived status column rides INTO the delta file — it
      //    forces the unknown-op raise_error before any state
      //    changes (a dropped column would be pruned out of the
      //    plan), and makes the stored delta self-describing.
      //    STAGED + RENAMED like the full snapshots: the delta chain
      //    is the one store read WITHOUT a manifest (the fold rule is
      //    the isolation), and Spark's job commit renames task
      //    outputs one by one — a crash mid-commit would leave a
      //    PARTIAL yet READABLE gen=N that a concurrent as-of fold
      //    silently folds as the whole delta. The dot-staging dir is
      //    invisible to the gens listing, so the delta appears
      //    all-or-nothing; in a replay's delete→rename window the
      //    generation is briefly ABSENT, which as-of readers reject
      //    loudly (requireSealedGen) — crash windows may be loud,
      //    never silently partial.
      val deltaDir =
        new org.apache.hadoop.fs.Path(s"$root/snapdelta/gen=$gen")
      // deterministic staging name + clear-before-write
      // (compactSnapshot's rule): a replay reuses its crashed
      // attempt's staging dir instead of orphaning one delta-sized
      // parquet dir per crash — no GC path ever sweeps snapdelta's
      // dot-dirs, so debris here would accumulate unbounded
      val deltaStaging = new org.apache.hadoop.fs.Path(
        s"$root/snapdelta/.staging_$gen")
      graft.engine.Steps.scoped("wave.delta") {
        require(fs.delete(deltaStaging, true) || !fs.exists(deltaStaging),
          s"StreamingVectorIndex: failed to clear stale $deltaStaging")
        deltaC.select(col(idCol), col(vecCol), col("op"),
            opStatus.as("status"))
          .write.mode("overwrite").parquet(deltaStaging.toString)
        require(fs.delete(deltaDir, true) || !fs.exists(deltaDir),
          s"StreamingVectorIndex: failed to clear a replayed delta at " +
            s"$deltaDir")
        require(fs.rename(deltaStaging, deltaDir),
          s"StreamingVectorIndex: failed to commit snapshot delta " +
            s"gen=$gen")
      }
      // 2. changes from the DELTA alone (replay-safety step 2): every
      //    upsert is "modified" — an actually-new key just dirties no
      //    outgoing cell — and every delete is "removed", so every
      //    delta key's indexed row goes and the upsert rows are
      //    exactly the fresh rows (the delta write above already
      //    raised on an unknown op)
      // 3. cell-incremental refresh under the CURRENT model; the
      //    upsert rows are the only "snapshot" the refresh needs, so
      //    the wave never rescans the corpus
      val mGen = gens(spark, root, "cents").max
      val baseline = readBaseline(spark, root, mGen)
      val refreshed = ops.refresh(spark, root, centsLoc(root, mGen),
        upserts, deltaC.select(col(idCol)), idCol, vecCol)
      // 4. drift decision — DELTA-BOUNDED: the gauges fold the stats
      //    artifact, updated by the refresh's per-cell deltas
      //    ([[waveDriftStats]]); bit-identical to the full-index scan
      //    (parity spec) at delta cost. Sealed BEFORE the rebuild
      //    (replay-safety step 4), then executed by the same
      //    deterministic path the recovery replays (which also
      //    materializes the fold as the new full snapshot — the
      //    recenter pays the corpus read anyway, so it doubles as a
      //    chain compaction)
      val stats = graft.engine.Steps.scoped("drift.stats") {
        waveDriftStats(spark, root, ops, centsLoc(root, mGen), idCol, gen,
          refreshed)
      }
      val gauges = graft.engine.Steps.scoped("drift.commit") {
        commitDriftStats(spark, root, gen, stats, historyRetention)
      }
      if (Similarity.driftBreached(gauges, baseline,
          cdFactorX100, skewFactorX100)) {
        sealMarker(spark, root, gen)
        finishRecenter(spark, root, gen, idCol, vecCol, ops,
          historyRetention)
      } else {
        // 5. chain compaction: once `compactEvery` deltas sit above
        //    the full base, materialize the fold (staged + renamed)
        //    and GC the chain — amortized 1/compactEvery corpus
        //    writes per wave; every other wave is delta-sized
        val base = gens(spark, root, "snapfull").max
        if (gens(spark, root, "snapdelta").count(_ > base)
            >= compactEvery)
          graft.engine.Steps.scoped("wave.compact") {
            compactSnapshot(spark, root, gen, idCol, vecCol,
              historyRetention)
          }
        // index-history retention rides the same dial: keep enough
        // sealed cell generations for pinned readers, reclaim the
        // rest — floored at 2 so the DEFAULT (historyRetention = 0)
        // never deletes the one generation a probe pinned just before
        // this wave may still be reading (the advertised "live probes
        // never race a wave" must hold without raising the dial)
        graft.engine.Steps.scoped("vacuum") {
          ops.vacuumIndex(spark, root, math.max(historyRetention + 1, 2))
        }
      }
    } finally deltaC.unpersist()
  }

  private def bootstrap(initial: DataFrame, root: String, idCol: String,
                        vecCol: String, ops: IndexOps): Unit = {
    val spark = initial.sparkSession
    initial.select(col(idCol), col(vecCol))
      .write.mode("overwrite").parquet(s"$root/snapfull/gen=0")
    finishRecenter(spark, root, 0, idCol, vecCol, ops)
  }

  // ---- public surface -----------------------------------------------

  /** Bootstrap the int8 quantized-IVF loop state: snapshot gen=0,
    * seeded centroid fit, full index write, fit-time baseline. */
  def bootstrapQuantized(initial: DataFrame, root: String,
                         idCol: String, vecCol: String, k: Int,
                         seed: Long = 42L): Unit =
    bootstrap(initial, root, idCol, vecCol, QuantizedOps(k, seed))

  /** Run the int8 quantized-IVF maintenance loop over a stream of
    * delta rows (`idCol | vecCol | op`, op ∈ upsert/delete).
    * `historyRetention = R` keeps the last R generations
    * reconstructable for [[probeAsOfQuantized]] (0 = no history). */
  def runQuantized(delta: DataFrame, root: String, idCol: String,
                   vecCol: String, k: Int, checkpoint: String,
                   seed: Long = 42L, cdFactorX100: Long = 115L,
                   skewFactorX100: Long = 175L,
                   historyRetention: Int = 0): StreamingQuery =
    run(delta, root, idCol, vecCol, QuantizedOps(k, seed), checkpoint,
      cdFactorX100, skewFactorX100, historyRetention)

  /** The SETTLE stage both event-time fronts share (the q191 recipe,
    * [[StreamingLexicalIndex.runUpsertsEventTime]]'s vector sibling):
    * timestamped vector versions collapse to ONE winner per key by
    * the batch latestByKey rule — highest version wins, NULL versions
    * lose, and an exact (key, version) collision breaks to the MIN
    * `op` string, so a colliding delete beats the upsert
    * deterministically (`op` is the only string-classed column of the
    * CRUD schema, and the rule is trivially replayable by an external
    * engine) — RELEASED only when the watermark closes the key
    * ([[StreamingUpsert.latestByKeyWithinWatermark]]), then projected
    * back to the wave schema (`idCol | vecCol | op`). */
  private def settled(updates: DataFrame, idCol: String,
                      vecCol: String, versionCol: String, tsCol: String,
                      delay: String): DataFrame =
    StreamingUpsert.latestByKeyWithinWatermark(updates, key = idCol,
        ordCol = versionCol, rowTieBreak = "op", tsCol = tsCol,
        delay = delay)
      .select(col(idCol), col(vecCol), col("op"))

  /** EVENT-TIME front for [[runQuantized]]: the CRUD delta arrives as
    * TIMESTAMPED VECTOR VERSIONS (`idCol | vecCol | op | versionCol |
    * tsCol`) with re-deliveries, out-of-order versions and late
    * arrivals, and every maintenance wave ingests only SETTLED,
    * EVICTED winners ([[settled]]). That closes the q191 hazards for
    * the dense side: an out-of-order OLDER vector version can never
    * transiently surface in [[probeLiveQuantized]] between waves, a
    * re-delivered row can never fan into two index generations, and a
    * straggler arriving past the watermark is DROPPED instead of
    * silently rewinding a live vector. The wave protocol, commit
    * MVCC, drift loop and vacuum cadence are [[runQuantized]]'s own —
    * the settle stage is purely upstream. The cost of the settled
    * semantics is watermark latency: a vector becomes probe-visible
    * `delay` after its key's newest admissible version (the
    * Structured Streaming late-data contract, chosen per stream). */
  def runQuantizedEventTime(updates: DataFrame, root: String,
                            idCol: String, vecCol: String,
                            versionCol: String, tsCol: String,
                            delay: String, k: Int, checkpoint: String,
                            seed: Long = 42L,
                            cdFactorX100: Long = 115L,
                            skewFactorX100: Long = 175L,
                            historyRetention: Int = 0): StreamingQuery =
    run(settled(updates, idCol, vecCol, versionCol, tsCol, delay),
      root, idCol, vecCol, QuantizedOps(k, seed), checkpoint,
      cdFactorX100, skewFactorX100, historyRetention)

  /** [[runQuantizedEventTime]]'s IVF-PQ sibling: the identical settle
    * stage in front of [[runIvfPq]]'s wave loop — both index families
    * share ONE watermark-settle semantics by construction. */
  def runIvfPqEventTime(updates: DataFrame, root: String,
                        idCol: String, vecCol: String,
                        versionCol: String, tsCol: String,
                        delay: String, kCells: Int, m: Int, k: Int,
                        checkpoint: String, seed: Long = 42L,
                        cdFactorX100: Long = 115L,
                        skewFactorX100: Long = 175L,
                        historyRetention: Int = 0): StreamingQuery =
    run(settled(updates, idCol, vecCol, versionCol, tsCol, delay),
      root, idCol, vecCol, IvfPqOps(kCells, m, k, seed), checkpoint,
      cdFactorX100, skewFactorX100, historyRetention)

  /** One BATCH maintenance wave of the quantized loop — the
    * foreachBatch body exposed for deterministic orchestration
    * without a stream (the gate's scenario rows); identical contract
    * to [[runQuantized]]'s per-batch behavior, batchId supplying the
    * generation number. */
  def applyWaveQuantized(spark: SparkSession, root: String,
                         delta: DataFrame, batchId: Long,
                         idCol: String, vecCol: String, k: Int,
                         seed: Long = 42L, cdFactorX100: Long = 115L,
                         skewFactorX100: Long = 175L,
                         compactEvery: Int = 8,
                         historyRetention: Int = 0): Unit =
    applyWave(spark, root, delta, batchId, idCol, vecCol,
      QuantizedOps(k, seed), cdFactorX100, skewFactorX100,
      compactEvery, historyRetention)

  /** TIME-TRAVEL probe of the quantized loop (the lexical
    * `asOfGeneration`'s vector symmetry): replay a quantized-IVF
    * probe against the loop state AT generation `gen` — the corpus
    * reconstructed from the delta chain ([[readSnapshot]]) and the
    * centroid model in force at `gen` (the largest model generation
    * ≤ gen — a recenter AT gen governs reads from gen on). The
    * physical index is maintained in place, so the historical read
    * pays a snapshot-scan probe
    * ([[graft.operators.Similarity.ivfProbeSnapshotQuantized]], the
    * Delta-time-travel cost class); live probes keep the pruned
    * path. Valid back to the retention floor
    * (`historyRetention` / [[compactSnapshot]]); past it, the
    * snapshot read fails loudly. Loud too while a crashed recenter
    * is pending — run any wave (or the recovery) first. */
  def probeAsOfQuantized(spark: SparkSession, root: String, gen: Int,
                         queryVec: DataFrame, idCol: String,
                         vecCol: String, k: Int,
                         nProbe: Int): DataFrame = {
    require(!fsOf(spark, root).exists(markerPath(root)),
      s"StreamingVectorIndex: unfinished recenter at $root — a " +
        "historical model read would replay an unsealed decision; " +
        "run a wave (or recovery) first")
    requireSealedGen(spark, root, gen)
    val mGens = gens(spark, root, "cents").filter(_ <= gen)
    require(mGens.nonEmpty,
      s"StreamingVectorIndex: no model at or below gen=$gen at $root")
    val cents = spark.read.parquet(s"$root/cents/gen=${mGens.max}")
    val snap = readSnapshot(spark, root, gen, idCol, vecCol)
    Similarity.ivfProbeSnapshotQuantized(snap, cents, queryVec,
      idCol, vecCol, k, nProbe)
  }

  /** LIVE probe of the quantized loop with the cells AND the centroid
    * model resolved through ONE pinned manifest — the pin-once entry
    * the MVCC layout deserves: a caller reading the model store and
    * the index in two separate steps can straddle a recenter (new
    * centroids paired with the previous generation's cells, or vice
    * versa); here the sealed manifest's [[SegmentManifest.ModelMarker]]
    * names the governing model, so cells and centroids are paired
    * atomically no matter what maintenance lands mid-call. The
    * returned plan is pinned: collect it any time before the vacuum
    * floor passes and it answers the pinned generation. */
  def probeLiveQuantized(spark: SparkSession, root: String,
                         queryVec: DataFrame, idCol: String, k: Int,
                         nProbe: Int): DataFrame = {
    val (codes, cents) = resolveLiveQuantized(spark, root)
    Similarity.ivfProbeCodesQuantized(codes, cents, queryVec, idCol,
      k, nProbe)
  }

  /** The one pinned (codes, centroids) resolution both live quantized
    * probes share — single-query and panel paths can never
    * desynchronize on which generation answers. */
  private def resolveLiveQuantized(spark: SparkSession, root: String)
      : (DataFrame, DataFrame) = {
    val indexPath = s"$root/index"
    val mf = SegmentManifest.latest(spark, indexPath).getOrElse(
      throw new IllegalStateException(
        s"StreamingVectorIndex: no sealed index generations at " +
          s"$indexPath — bootstrap the loop first"))
    val modelGen = mf.entries(SegmentManifest.ModelMarker).lastOption
      .map(_.seg)
      .getOrElse(gens(spark, root, "cents").max) // pre-marker layout
    val cents = spark.read.parquet(s"$root/cents/gen=$modelGen")
    val codes = SegmentManifest
      .read(spark, indexPath, mf, "cells", "centroid_id")
      .map(_.withColumn("centroid_id", col("centroid_id").cast("long")))
      .getOrElse(throw new IllegalStateException(
        s"StreamingVectorIndex: generation ${mf.gen} at $indexPath " +
          "has no cells"))
    (codes, cents)
  }

  /** [[probeLiveQuantized]] for a query PANEL (`qid`, `qvec`):
    * identical pinned resolution, scored in one relational pass
    * ([[graft.operators.Similarity.ivfProbeCodesQuantizedMulti]]) —
    * [[probeLiveIvfPqMulti]]'s int8 sibling, completing the
    * recall-panel instrument for both live families. */
  def probeLiveQuantizedMulti(spark: SparkSession, root: String,
                              queries: DataFrame, idCol: String,
                              k: Int, nProbe: Int): DataFrame = {
    val (codes, cents) = resolveLiveQuantized(spark, root)
    Similarity.ivfProbeCodesQuantizedMulti(codes, cents, queries,
      idCol, k, nProbe)
  }

  /** [[probeLiveQuantized]]'s IVF-PQ sibling: cells, CODEBOOKS and
    * the centroid model all resolve through the one pinned manifest
    * (the books entry seals with the cells —
    * [[graft.operators.ProductQuantize.ivfPqRebuildMvcc]]), so a
    * recenter landing mid-call can never pair one generation's codes
    * with another's books. */
  def probeLiveIvfPq(spark: SparkSession, root: String,
                     queryVec: DataFrame, idCol: String, k: Int,
                     nProbe: Int): DataFrame = {
    val (codes, booksLoc, cents) = resolveLiveIvfPq(spark, root)
    ProductQuantize.ivfPqProbeResolved(codes, booksLoc, cents, queryVec,
      idCol, k, nProbe)
  }

  /** The one pinned (codes, books location, centroids) resolution
    * both live IVF-PQ probes share — single-query and panel paths can
    * never desynchronize on which generation answers. */
  private def resolveLiveIvfPq(spark: SparkSession, root: String)
      : (DataFrame, String, DataFrame) = {
    val path = s"$root/index"
    val mfOpt = SegmentManifest.latest(spark, s"$path/codes")
    require(mfOpt.nonEmpty,
      s"StreamingVectorIndex: no sealed index generations at " +
        s"$path/codes — bootstrap the loop first")
    val modelGen = mfOpt.get.entries(SegmentManifest.ModelMarker)
      .lastOption.map(_.seg)
      .getOrElse(gens(spark, root, "cents").max) // pre-marker layout
    val cents = spark.read.parquet(s"$root/cents/gen=$modelGen")
    val (codes, booksLoc) = ProductQuantize
      .resolveCodesAndBooks(spark, path, mfOpt)
    (codes, booksLoc, cents)
  }

  /** [[probeLiveIvfPq]] for a query PANEL (`queries` carries
    * `qid`, `qvec`): identical pinned resolution, scored in one
    * relational pass ([[graft.operators.ProductQuantize
    * .ivfPqScoreCodesMulti]]) — the recall-panel instrument for the
    * streaming loop (q190's post-recenter floor rides it). */
  def probeLiveIvfPqMulti(spark: SparkSession, root: String,
                          queries: DataFrame, idCol: String, k: Int,
                          nProbe: Int): DataFrame = {
    val (codes, booksLoc, cents) = resolveLiveIvfPq(spark, root)
    ProductQuantize.ivfPqProbeResolvedMulti(codes, booksLoc, cents,
      queries, idCol, k, nProbe)
  }

  /** One BATCH maintenance wave of the IVF-PQ loop — the foreachBatch
    * body exposed for deterministic orchestration without a stream;
    * identical contract to [[runIvfPq]]'s per-batch behavior. */
  def applyWaveIvfPq(spark: SparkSession, root: String,
                     delta: DataFrame, batchId: Long,
                     idCol: String, vecCol: String, kCells: Int,
                     m: Int, k: Int, seed: Long = 42L,
                     cdFactorX100: Long = 115L,
                     skewFactorX100: Long = 175L,
                     compactEvery: Int = 8,
                     historyRetention: Int = 0): Unit =
    applyWave(spark, root, delta, batchId, idCol, vecCol,
      IvfPqOps(kCells, m, k, seed), cdFactorX100, skewFactorX100,
      compactEvery, historyRetention)

  /** TIME-TRAVEL probe of the IVF-PQ loop — [[probeAsOfQuantized]]'s
    * sibling: the corpus at generation `gen` from the delta chain,
    * the model in force at `gen` (centroids from `cents/gen=`,
    * codebooks from the generation-keyed `books/gen=` copy the
    * recenter snapshots — the live `index/codebooks` is overwritten
    * in place by later recenters), replayed through
    * [[graft.operators.ProductQuantize.ivfPqProbeSnapshot]] (the one
    * shared encode + ADC arithmetic). Snapshot-scan + re-encode cost
    * class, historical reads only; valid back to the retention
    * floor, loud past it and loud on layouts bootstrapped before the
    * books store existed. */
  def probeAsOfIvfPq(spark: SparkSession, root: String, gen: Int,
                     queryVec: DataFrame, idCol: String,
                     vecCol: String, k: Int, nProbe: Int): DataFrame = {
    require(!fsOf(spark, root).exists(markerPath(root)),
      s"StreamingVectorIndex: unfinished recenter at $root — a " +
        "historical model read would replay an unsealed decision; " +
        "run a wave (or recovery) first")
    requireSealedGen(spark, root, gen)
    val mGens = gens(spark, root, "cents").filter(_ <= gen)
    require(mGens.nonEmpty,
      s"StreamingVectorIndex: no model at or below gen=$gen at $root")
    val mg = mGens.max
    val booksPath = s"$root/books/gen=$mg"
    require(fsOf(spark, root).exists(
        new org.apache.hadoop.fs.Path(booksPath)),
      s"StreamingVectorIndex: no generation-keyed codebooks at " +
        s"$booksPath — the layout predates the books store " +
        "(re-bootstrap, or recenter once, to start snapshotting them)")
    val cents = spark.read.parquet(s"$root/cents/gen=$mg")
    val books = spark.read.parquet(booksPath)
    val snap = readSnapshot(spark, root, gen, idCol, vecCol)
    ProductQuantize.ivfPqProbeSnapshot(snap, cents, books, queryVec,
      idCol, vecCol, k, nProbe)
  }

  /** Bootstrap the IVF-PQ loop state (codebooks + centroids fit at
    * gen=0, codes written cell-partitioned). */
  def bootstrapIvfPq(initial: DataFrame, root: String, idCol: String,
                     vecCol: String, kCells: Int, m: Int, k: Int,
                     seed: Long = 42L): Unit =
    bootstrap(initial, root, idCol, vecCol,
      IvfPqOps(kCells, m, k, seed))

  /** Run the IVF-PQ maintenance loop; a drift breach retrains BOTH
    * centroids and codebooks (the batch loop's contract). */
  def runIvfPq(delta: DataFrame, root: String, idCol: String,
               vecCol: String, kCells: Int, m: Int, k: Int,
               checkpoint: String, seed: Long = 42L,
               cdFactorX100: Long = 115L,
               skewFactorX100: Long = 175L,
               historyRetention: Int = 0): StreamingQuery =
    run(delta, root, idCol, vecCol, IvfPqOps(kCells, m, k, seed),
      checkpoint, cdFactorX100, skewFactorX100, historyRetention)

  private def run(delta: DataFrame, root: String, idCol: String,
                  vecCol: String, ops: IndexOps, checkpoint: String,
                  cdFactorX100: Long, skewFactorX100: Long,
                  historyRetention: Int): StreamingQuery =
    delta.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty)
          applyWave(batch.sparkSession, root, batch.toDF(), batchId,
            idCol, vecCol, ops, cdFactorX100, skewFactorX100,
            historyRetention = historyRetention)
      }
      .start()

  /** SERVING CLONE of a maintained streaming root — the composite
    * form of [[graft.operators.SegmentManifest.cloneGeneration]]:
    * ships the latest sealed index generation PLUS exactly the model
    * artifacts the pinned manifest names, so the live probe entries
    * ([[probeLiveQuantized]] / [[probeLiveIvfPq]] and their panel
    * siblings) resolve at `dstRoot` precisely what they resolve at
    * the source right now — and nothing the source's later waves,
    * recenters or vacuums can reach the copy. The family is detected
    * from the layout itself (int8: manifests at `index/_gen`;
    * IVF-PQ: at `index/codes/_gen`, whose clone also carries the
    * live `codebooks` cache — the governing books for refresh-only
    * histories, [[graft.operators.ProductQuantize.governingBooks]]).
    *
    * Deliberately NOT cloned: the snapshot delta chain, historical
    * models below the pinned generation, drift-stat artifacts, and
    * the per-generation as-of stores — a serving copy answers LIVE
    * probes; it does not resume maintenance or time travel. To fork
    * the wave loop itself, bootstrap a fresh root from the source's
    * settled corpus instead (the snapshot store is the loop's state,
    * not the index's). */
  def cloneServing(spark: SparkSession, srcRoot: String,
                   dstRoot: String): Unit = {
    val isInt8 =
      SegmentManifest.latestGen(spark, s"$srcRoot/index").nonEmpty
    val isPq =
      SegmentManifest.latestGen(spark, s"$srcRoot/index/codes").nonEmpty
    require(isInt8 || isPq,
      s"cloneServing: no sealed index generations under " +
        s"$srcRoot/index — bootstrap the loop (and run one wave) first")
    val m =
      if (isInt8)
        SegmentManifest.cloneGeneration(spark, s"$srcRoot/index",
          s"$dstRoot/index")
      else {
        val mm = SegmentManifest.cloneGeneration(spark,
          s"$srcRoot/index/codes", s"$dstRoot/index/codes")
        // the live codebooks cache governs decoding whenever the
        // manifest carries no books entry (a refresh-only history) —
        // without it the clone's probe would fail on exactly those
        // layouts
        copyDir(spark, s"$srcRoot/index/codebooks",
          s"$dstRoot/index/codebooks")
        mm
      }
    // the model generation THIS manifest pins (marker), or the
    // largest on disk for pre-marker histories — the same resolution
    // rule as the live probes, so the clone can never pair the cells
    // with a different model than the source would
    val modelGen = m.entries(SegmentManifest.ModelMarker).lastOption
      .map(_.seg)
      .getOrElse {
        val cg = gens(spark, srcRoot, "cents")
        require(cg.nonEmpty,
          s"cloneServing: $srcRoot has no model marker and no " +
            "cents/gen=* store — this is not a streaming loop root " +
            "(for a bare manifested index use " +
            "SegmentManifest.cloneGeneration directly)")
        cg.max
      }
    copyDir(spark, s"$srcRoot/cents/gen=$modelGen",
      s"$dstRoot/cents/gen=$modelGen")
    // fit-time gauges ride along when present: operational metadata a
    // serving copy may still report (not needed by any probe)
    val bl = new org.apache.hadoop.fs.Path(
      s"$srcRoot/baseline/gen=$modelGen")
    if (fsOf(spark, srcRoot).exists(bl))
      copyDir(spark, bl.toString, s"$dstRoot/baseline/gen=$modelGen")
  }

  /** Incremental re-publish to an existing serving clone — the
    * [[graft.operators.SegmentManifest.syncClone]] composite for
    * streaming roots, and the loop a serving tier actually runs after
    * every source wave: advance `dstRoot`'s index to the source's
    * latest sealed generation copying only the delta members, then
    * bring the model artifacts up to the NEW pinned generation —
    * cents (and baseline when present) for a marker that moved (a
    * recenter landed since the last publish; models are
    * generation-keyed and write-once, so an already-present
    * generation is skipped), and the live codebooks cache on IVF-PQ
    * roots (re-copied unconditionally: broadcast-sized, and a rebuild
    * refreshes it in place at the source). Same lineage/monotonicity
    * contract as syncClone — a foreign or stale dst fails loudly
    * there. Returns the copied index locations (the delta audit). */
  def syncServing(spark: SparkSession, srcRoot: String,
                  dstRoot: String): Seq[String] = {
    val isInt8 =
      SegmentManifest.latestGen(spark, s"$srcRoot/index").nonEmpty
    val isPq =
      SegmentManifest.latestGen(spark, s"$srcRoot/index/codes").nonEmpty
    require(isInt8 || isPq,
      s"syncServing: no sealed index generations under " +
        s"$srcRoot/index — nothing to publish")
    val (delta, m) =
      if (isInt8) {
        val d = SegmentManifest.syncClone(spark, s"$srcRoot/index",
          s"$dstRoot/index")
        (d, SegmentManifest.latest(spark, s"$dstRoot/index").get)
      } else {
        val d = SegmentManifest.syncClone(spark,
          s"$srcRoot/index/codes", s"$dstRoot/index/codes")
        copyDir(spark, s"$srcRoot/index/codebooks",
          s"$dstRoot/index/codebooks")
        (d, SegmentManifest.latest(spark, s"$dstRoot/index/codes").get)
      }
    val modelGen = m.entries(SegmentManifest.ModelMarker).lastOption
      .map(_.seg)
      .getOrElse {
        val cg = gens(spark, srcRoot, "cents")
        require(cg.nonEmpty,
          s"syncServing: $srcRoot has no model marker and no " +
            "cents/gen=* store — not a streaming loop root")
        cg.max
      }
    // generation-keyed, write-once: present at dst ⇒ already the
    // right bytes; absent ⇒ a recenter advanced the marker since the
    // last publish
    val dfs = fsOf(spark, dstRoot)
    if (!dfs.exists(new org.apache.hadoop.fs.Path(
        s"$dstRoot/cents/gen=$modelGen")))
      copyDir(spark, s"$srcRoot/cents/gen=$modelGen",
        s"$dstRoot/cents/gen=$modelGen")
    val bl = new org.apache.hadoop.fs.Path(
      s"$srcRoot/baseline/gen=$modelGen")
    if (fsOf(spark, srcRoot).exists(bl) &&
        !dfs.exists(new org.apache.hadoop.fs.Path(
          s"$dstRoot/baseline/gen=$modelGen")))
      copyDir(spark, bl.toString, s"$dstRoot/baseline/gen=$modelGen")
    delta
  }

  /** Driver-side recursive copy of one SMALL artifact directory (the
    * model/baseline stores — k-row parquet files; the corpus-sized
    * cells go through [[graft.operators.SegmentManifest
    * .cloneGeneration]]'s distributed copy instead). Delete-then-copy:
    * FileUtil.copy onto an existing dst dir nests src under it. */
  private def copyDir(spark: SparkSession, src: String,
                      dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(src)
    val dp = new org.apache.hadoop.fs.Path(dst)
    val sfs = sp.getFileSystem(conf)
    val dfs = dp.getFileSystem(conf)
    require(sfs.exists(sp), s"cloneServing: missing artifact $src")
    if (dfs.exists(dp)) dfs.delete(dp, true)
    else dfs.mkdirs(dp.getParent)
    require(org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp,
      false, true, conf), s"cloneServing: copy of $src refused")
  }
}
