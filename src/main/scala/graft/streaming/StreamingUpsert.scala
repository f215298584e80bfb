package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** X × W — corpus upsert on the STREAMING ingest path: the continuous
  * form of [[graft.operators.Upsert.latestByKey]]. A recrawl feed
  * delivers document versions continuously — re-deliveries, out-of-order
  * versions, late arrivals — and the corpus merge wants exactly ONE
  * winning row per key, decided by the same rule as batch: highest
  * version wins, NULL versions lose to any non-NULL, equal (key,
  * version) ties break to the MIN `rowTieBreak`, and full-row
  * re-deliveries can never fan out.
  *
  * Shape: `flatMapGroupsWithState` with an EVENT-TIME timeout — one
  * state row per in-flight key holding the current winner (never the
  * version history), emitted and EVICTED when the watermark passes the
  * key's latest event time plus the delay, i.e. exactly when no
  * admissible late row can still beat the winner. Until then a late
  * higher version simply replaces the state row. That is the only
  * state-bounded semantics for last-wins over an unbounded stream;
  * batch [[graft.operators.Upsert.latestByKey]] remains the global
  * sweep, and the two agree on the winner rule by construction.
  *
  * Keys are grouped by their STRING form (`Option[String]`, so a NULL
  * key is one logical key, exactly like the batch operator's null-safe
  * grouping); `ordCol` must be long-castable and `rowTieBreak`
  * string-castable — the same column classes q84 merges on.
  *
  * SIZING THE `delay` DIAL (measured, NOTES_r18.md —
  * the settle stage composed with the real index wave loop): a winner
  * only evicts when the watermark passes its event time + delay, and
  * the watermark itself lags max event time by delay plus one batch,
  * so end-to-end visibility costs `≈ 2·delay` of event time —
  * `ceil(2·delay / cadence) + 2` waves, exact at every measured
  * delay/cadence combo (1m:1m → 4 waves, 5m:1m → 12, 5m:5m → 4).
  * Budget out-of-order tolerance at HALF the staleness you can
  * afford, and match the wave cadence to the delay unless waves are
  * cheap: fast cadence under a long delay burns waves polling the
  * watermark forward (wall time scales with wave count — the ~1 s
  * per-wave protocol floor — not with data), while `cadence = delay`
  * pins visibility at the 4-wave floor. State stays open-keys-bounded
  * throughout: `delay/cadence + 1` in-flight slices of rows, the
  * solo-stage measurement carried unchanged under composition. */
object StreamingUpsert {

  def latestByKeyWithinWatermark(updates: DataFrame, key: String,
                                 ordCol: String, rowTieBreak: String,
                                 tsCol: String, delay: String): DataFrame = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(delay))
    require(iv.months == 0, "watermark delay must not use month units")
    val delayMs = iv.days * 86400000L + iv.microseconds / 1000L
    // internal comparison columns appended ONCE driver-side so the
    // per-row work inside the stateful function is two field reads,
    // not a cast: _ord (nullable long), _tb (string), _ts (epoch ms).
    // The names are reserved — an input column with one of them would
    // be silently REPLACED by withColumn and shift the positional
    // reads below onto the wrong fields.
    Seq("_ord", "_tb", "_ts").foreach { reserved =>
      require(!updates.columns.contains(reserved),
        s"latestByKeyWithinWatermark reserves the column name $reserved")
    }
    val prepared = updates.withWatermark(tsCol, delay)
      .withColumn("_ord", col(ordCol).cast(LongType))
      .withColumn("_tb", col(rowTieBreak).cast(StringType))
      .withColumn("_ts",
        (col(tsCol).cast("timestamp").cast("double") * 1000).cast(LongType))
    val n = prepared.schema.fields.length
    val iOrd = n - 3
    val iTb = n - 2
    val iTs = n - 1
    implicit val rowEnc: Encoder[Row] = Encoders.row(prepared.schema)
    implicit val stateEnc: Encoder[(Row, Long)] =
      Encoders.tuple(rowEnc, Encoders.scalaLong)

    // the batch rule, pairwise: higher _ord wins (NULL loses to any
    // non-NULL); equal _ord → MIN non-NULL _tb, and a NULL tiebreak
    // LOSES to any non-NULL one — exactly batch latestByKey's
    // `min(tb)` semantics (min skips NULLs, so the non-NULL row is
    // the one the null-safe winner match keeps)
    def better(a: Row, b: Row): Row = {
      val ao = if (a.isNullAt(iOrd)) None else Some(a.getLong(iOrd))
      val bo = if (b.isNullAt(iOrd)) None else Some(b.getLong(iOrd))
      (ao, bo) match {
        case (Some(x), Some(y)) if x != y => if (x > y) a else b
        case (Some(_), None) => a
        case (None, Some(_)) => b
        case _ => // equal versions (or both NULL): min non-NULL tiebreak
          val at = Option(a.getString(iTb))
          val bt = Option(b.getString(iTb))
          (at, bt) match {
            case (Some(x), Some(y)) => if (x <= y) a else b
            case (None, Some(_)) => b
            case _ => a
          }
      }
    }

    // string-form grouping key; a NULL key stays null (one logical
    // group, like SQL GROUP BY and the batch operator's null-safe join)
    val keyIdx = prepared.schema.fieldIndex(key)
    prepared
      .groupByKey(r => Option(r.get(keyIdx)).map(_.toString).orNull)(
        Encoders.STRING)
      .flatMapGroupsWithState[(Row, Long), Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state: GroupState[(Row, Long)]) =>
          if (state.hasTimedOut) {
            val (winner, _) = state.get
            state.remove()
            Iterator(winner)
          } else {
            // ONE pass over the batch's rows for BOTH the pairwise
            // winner and the max event time: the timeout must key on
            // the key's LATEST admitted event time, not the winner's
            // own (a winner older than a losing sibling would
            // otherwise evict early, and an admissible re-delivery of
            // the loser would re-open the key and emit a SECOND
            // winner — the fan-out the operator exists to prevent).
            // Matches the batch replay's `max(ts) over admitted`
            // eviction rule exactly.
            var incoming: Row = null
            var batchMaxTs = Long.MinValue
            rows.foreach { r =>
              batchMaxTs = math.max(batchMaxTs, r.getLong(iTs))
              incoming = if (incoming == null) r else better(incoming, r)
            }
            val (winner, maxTs) = state.getOption match {
              case Some((prev, prevTs)) =>
                (better(prev, incoming), math.max(prevTs, batchMaxTs))
              case None => (incoming, batchMaxTs)
            }
            state.update((winner, maxTs))
            // emit when the watermark passes the key's newest event
            // time + delay: no admissible row can still beat the
            // winner. +1 ms keeps the timestamp strictly above the
            // watermark in the delay=0 edge.
            state.setTimeoutTimestamp(maxTs + delayMs + 1)
            Iterator.empty
          }
      }
      .drop("_ord", "_tb", "_ts")
  }
}
