package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TextAnalysis

/** X3 × W — CONTINUOUS lexical-index maintenance: every micro-batch
  * of arriving documents appends one immutable BM25 segment (the
  * Lucene flush) and the size-tiered merge immediately compacts the
  * layout back to `maxSegments` — the steady-state ingestion loop a
  * live search index runs, composed from the batch operators the gate
  * already verifies ([[TextAnalysis.bm25AppendSegment]] → q115,
  * [[TextAnalysis.bm25MergeSegmentsTiered]] → q134).
  *
  * `foreachBatch` is the right tool here, not a streaming sink:
  * append + merge are batch operators with a crash-recoverable commit
  * protocol of their own, and `batchId` supplies the MONOTONE segment
  * numbers the tombstone generation rule requires (a tiered fold
  * renumbers to the folded range's upper segment, which stays strictly
  * below every future batchId).
  *
  * Restart safety hinges on `protectNewest = 1`: a replayed batch
  * re-appends `seg=<batchId>` with OVERWRITE, so the just-appended
  * segment must never be absorbed by a fold within the same batch —
  * if it were, the replay's overwrite would destroy the absorbed
  * older docs. With the newest segment protected, append-then-merge
  * is idempotent under replay (the re-append supersedes its earlier
  * attempt through the manifest seal, the re-merge is a no-op or
  * folds exactly what the lost attempt folded), and a crash mid-fold
  * leaves only unreferenced `_rev` garbage — the last sealed
  * generation keeps serving ([[graft.operators.SegmentManifest]]).
  * The layout transiently holds up to maxSegments + 1 segments for
  * one batch.
  *
  * Probes pin the latest sealed generation at entry (MVCC), so they
  * may freely overlap the maintenance loop; only WRITERS stay
  * single-writer, machine-checked by the exclusive seal.
  *
  * MANIFEST RETENTION: every wave seals 2–4 generations (tombstone,
  * append, folds), and each probe entry / seal pays one `_gen/`
  * listing that grows LINEARLY with accumulated generations —
  * measured 3.3 ms at 10², 16.6 ms at 10³, 136 ms at 10⁴ sealed
  * generations, while a vacuum walk is sub-second even at 10⁴
  * (PLANS.md round-15 table, NOTES_r15.md). Left unvacuumed, a
  * streaming loop reaches 10⁴ generations in ~3k waves and every
  * probe pays the 136 ms listing tax forever. So both loops vacuum
  * every `vacuumEvery` waves, keeping `keepGenerations` (the
  * time-travel horizon — `asOfGeneration` reads below the floor fail
  * loudly; raise it if historical replay must reach further). The
  * defaults (64 waves × ~3 seals ≈ 200 accumulated generations →
  * ~5 ms listing worst case, ~0.2 s vacuum amortized over 64 waves)
  * come from the probe table. */
object StreamingLexicalIndex {

  private def maybeVacuum(spark: org.apache.spark.sql.SparkSession,
                          path: String, batchId: Long,
                          vacuumEvery: Int,
                          keepGenerations: Int): Unit = {
    require(vacuumEvery >= 1,
      s"StreamingLexicalIndex: vacuumEvery must be >= 1, got $vacuumEvery")
    require(keepGenerations >= 2,
      "StreamingLexicalIndex: keepGenerations must be >= 2 — a probe " +
        s"pinned one wave back must survive, got $keepGenerations")
    if ((batchId + 1) % vacuumEvery == 0) {
      TextAnalysis.bm25Vacuum(spark, path, keepGenerations)
      ()
    }
  }

  /** Full-CRUD variant of [[run]]: micro-batches carry
    * `idCol | textCol | op` with op ∈ upsert/delete, and every batch
    * applies one [[TextAnalysis.bm25ApplyUpserts]] wave — tombstones
    * with old dl taken from the index's OWN live postings (no side
    * snapshot), fresh segment, tiered compaction. Replay safety is
    * the wave's own: the tombstone step is skipped once its sealed
    * manifest entry exists (a replay cannot re-derive old dl from
    * a layout its first attempt already changed), the re-append
    * supersedes its earlier attempt through the seal, and
    * `protectNewest = 1` keeps the wave's segment out of the folds. `firstSegment` (default 1)
    * offsets batchId into the generation clock and must exceed every
    * bootstrap segment — checked loudly by the wave. */
  def runUpserts(delta: DataFrame, idCol: String, textCol: String,
                 path: String, maxSegments: Int, checkpoint: String,
                 firstSegment: Int = 1, vacuumEvery: Int = 64,
                 keepGenerations: Int = 8): StreamingQuery =
    delta.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          require(batchId + firstSegment <= Int.MaxValue,
            s"StreamingLexicalIndex: batchId $batchId exceeds the " +
              "Int segment-id range")
          val b = batch.toDF()
          require(b.filter(!org.apache.spark.sql.functions.col("op")
              .isin("upsert", "delete")).isEmpty,
            "StreamingLexicalIndex: unknown op in delta batch")
          TextAnalysis.bm25ApplyUpserts(batch.sparkSession, path,
            b.filter(org.apache.spark.sql.functions.col("op") === "upsert")
              .select(idCol, textCol),
            b.filter(org.apache.spark.sql.functions.col("op") === "delete")
              .select(idCol),
            idCol, textCol, (batchId + firstSegment).toInt, maxSegments)
          maybeVacuum(batch.sparkSession, path, batchId, vacuumEvery,
            keepGenerations)
        }
      }
      .start()

  /** EVENT-TIME front for [[runUpserts]] — the W-family watermark
    * semantics unified with the index maintenance loop: the CRUD
    * delta arrives as TIMESTAMPED DOCUMENT VERSIONS
    * (`idCol | textCol | op | versionCol | tsCol`) with
    * re-deliveries, out-of-order versions and late arrivals, and each
    * key's winning version is decided by the batch latestByKey rule
    * and RELEASED only when the watermark closes the key
    * ([[StreamingUpsert.latestByKeyWithinWatermark]] — highest
    * version wins, NULL versions lose, equal versions tie to the min
    * tiebreak). The index therefore ingests one SETTLED winner per
    * key: an out-of-order older version can never transiently surface
    * in probes between waves, a re-delivered row can never fan out
    * into two index generations, and a straggler arriving after the
    * watermark is dropped instead of silently rewinding a live
    * document. Winners feed the same [[TextAnalysis.bm25ApplyUpserts]]
    * wave as [[runUpserts]] (op = upsert → fresh segment row,
    * delete → tombstone), so the commit protocol, replay safety and
    * vacuum cadence are the CRUD loop's own. The cost of the settled
    * semantics is watermark latency: a document becomes searchable
    * `delay` after its key's newest admissible version, which is the
    * Structured Streaming late-data contract, chosen here per stream. */
  def runUpsertsEventTime(updates: DataFrame, idCol: String,
                          textCol: String, versionCol: String,
                          tsCol: String, delay: String, path: String,
                          maxSegments: Int, checkpoint: String,
                          firstSegment: Int = 1, vacuumEvery: Int = 64,
                          keepGenerations: Int = 8): StreamingQuery =
    runUpserts(
      StreamingUpsert.latestByKeyWithinWatermark(updates, key = idCol,
        ordCol = versionCol, rowTieBreak = textCol, tsCol = tsCol,
        delay = delay),
      idCol, textCol, path, maxSegments, checkpoint, firstSegment,
      vacuumEvery, keepGenerations)

  def run(docs: DataFrame, idCol: String, textCol: String,
          path: String, maxSegments: Int, checkpoint: String,
          vacuumEvery: Int = 64,
          keepGenerations: Int = 8): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        if (!batch.isEmpty) {
          // a batchId above Int.MaxValue would wrap NEGATIVE under
          // toInt and break the monotone segment-generation rule the
          // tombstone algebra depends on — fail loudly, never fold a
          // wrapped generation into the clock
          require(batchId <= Int.MaxValue,
            s"StreamingLexicalIndex: batchId $batchId exceeds the " +
              "Int segment-id range")
          TextAnalysis.bm25AppendSegment(batch.toDF(), idCol, textCol,
            path, batchId.toInt)
          TextAnalysis.bm25MergeSegmentsTiered(batch.sparkSession,
            path, idCol, maxSegments, protectNewest = 1)
          maybeVacuum(batch.sparkSession, path, batchId, vacuumEvery,
            keepGenerations)
        }
      }
      .start()
}
