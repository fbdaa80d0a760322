package graft.streaming

import graft.core.RegistryIndex
import graft.model.Triple
import graft.spark.ExtractPipeline
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Turn

/** Structured-Streaming front end for the extraction stage.
  *
  * The reference is strictly batch (one document at a time, SURVEY.md §2.9);
  * the streaming obligations come from the graft: a transcripts *stream*
  * (files landing in a table directory) is extracted with the exact same
  * row-local operator — extraction is stateless per row, so the stream runs
  * in append mode with no state store. Windowed per-conversation counts ride
  * on the event-time `ts` column with a watermark for late turns.
  */
object StreamingExtract {

  /** File-stream of transcript parquet → triple stream (append-mode safe). */
  def extractStream(spark: SparkSession, inputDir: String,
                    registry: RegistryIndex = ExtractPipeline.defaultRegistry): Dataset[Triple] = {
    val turns = spark.readStream.schema(Turn.schema).parquet(inputDir)
    ExtractPipeline.extract(turns, registry)
  }

  /** Event-time windowed MARKUP-TURN counts per conversation (turns passing
    * the markup pre-filter — a throughput/arrival metric, not a triple
    * count): 1-minute tumbling windows with a 5-minute watermark (late
    * turns beyond that are dropped, deterministically).
    */
  def windowedConvCounts(spark: SparkSession, inputDir: String): DataFrame = {
    val turns = spark.readStream.schema(Turn.schema).parquet(inputDir)
      .filter(ExtractPipeline.markupFilter)
    turns
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "1 minute"), col("conv_id"))
      .agg(count(lit(1)).as("n_turns"))
  }

  /** Streaming exact-dedup: emit the FIRST occurrence of each text hash,
    * dropping later duplicates that arrive within the watermark horizon.
    * `dropDuplicatesWithinWatermark` keys state on the md5 only for the
    * watermark window (state is evicted once the event time passes), so
    * state size is bounded by the dedup horizon — the streaming twin of
    * `TextOps.exactDupGroups`, which dedups the full corpus at rest.
    * Input needs (doc_id, text, ts).
    */
  def dedupStream(docs: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame =
    docs
      .withColumn("text_md5", md5(col("text")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("text_md5")

  /** CONTINUOUS KG materialization — the streaming twin of
    * [[ExtractPipeline.writeGraph]]: sink a triple stream into the
    * pred_bucket parquet layout, one dynamic-partition-overwrite write per
    * micro-batch.
    *
    * Exactly-once at rest: every batch writes under its own
    * `batch_id=<id>` partition, so a replayed batch (foreachBatch is
    * at-least-once) OVERWRITES exactly the partitions its first attempt
    * wrote — idempotent, no dedup pass needed. `pred_bucket` nests inside,
    * so constant-predicate queries still prune partitions; the layout
    * metadata (bucket count and schema, no stats — they'd go stale per
    * batch) is written through the [[graft.spark.TableIO]] seam, and
    * [[graft.spark.GraphQuery.loadGraph]] reads the dir like any other
    * graph (no inference job; stats by one-pass scan). Long-running
    * streams accumulate batch_id partitions;
    * [[graft.spark.IncrementalGraph.compact]] rewrites the dir side-by-side
    * into one generation when the count grows unwieldy.
    */
  def sinkToGraph(triples: Dataset[Triple], outDir: String, checkpointDir: String,
                  predBuckets: Int = graft.spark.GraphLayout.DefaultBuckets)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // metadata ONCE, before the stream starts: its content is constant
    // (bucket count and schema — no stats, they'd go stale per batch), and a
    // per-batch rewrite would open a delete→rename window where concurrent
    // loadGraph readers silently lose pruning. A dir that already carries a
    // layout DESCRIBES ITSELF: a restart passing a different predBuckets
    // must not rewrite it — earlier batches were hashed with the recorded
    // count, and re-labeling them would make constant-predicate pruning
    // silently skip matching rows (the guard IncrementalGraph.appendNovel
    // shares).
    val spark = triples.sparkSession
    val buckets = graft.spark.IncrementalGraph.layoutBuckets(spark, outDir, predBuckets)
    triples.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Triple], batchId: Long) =>
        // the one batch-layout writer, through the SAME TableIO seam as the
        // metadata — an Iceberg binding must not end up with metadata in
        // the table but triples in a stray parquet dir
        graft.spark.IncrementalGraph.writeBatch(batch.dropDuplicates(Triple.identityCols),
          outDir, batchId, buckets)
        ()
      }
      .start()
  }

  /** CONTINUOUS entity-link-state maintenance — the streaming twin of
    * [[graft.spark.EntityLink.mentionLinkState]] and the canonicalization
    * half of the continuous-KG pair ([[sinkToGraph]] keeps the triples
    * fresh; this keeps the identity clusters fresh): every triple
    * micro-batch folds into the standing `(node, component)` state through
    * [[graft.spark.EntityLink.mentionLinkStateIncremental]], so per-batch
    * cost scales with the batch, never the corpus.
    *
    * State lives in `stateDir` under [[graft.spark.LinkStateStore]]'s
    * version/pointer commit protocol — foreachBatch's at-least-once replay
    * is absorbed there (re-folding a batch is a component-union no-op that
    * rewrites its own version table), and a consumer rewrites triples any
    * time via `LinkStateStore.loadMapping` →
    * [[graft.spark.EntityLink.rewriteWithMapping]] without stopping the
    * stream (the pointer flip is atomic; readers see the previous state
    * until then).
    */
  def linkStateStream(triples: Dataset[Triple], stateDir: String, checkpointDir: String,
                      keyPredicates: Seq[String], maxKeyDegree: Int = 100000)
      : org.apache.spark.sql.streaming.StreamingQuery =
    triples.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Triple], batchId: Long) =>
        graft.spark.LinkStateStore.fold(batch, stateDir, batchId, keyPredicates, maxKeyDegree)
        ()
      }
      .start()

  /** CONTINUOUS entailment-closure maintenance — the third leg of the
    * continuous-KG trio ([[sinkToGraph]] = triples, [[linkStateStream]] =
    * identity clusters, this = derived facts): each micro-batch appends the
    * closure's DELTA CONE to a standing closure dir via
    * [[graft.spark.IncrementalGraph.closureWith]]
    * ([[graft.spark.Entailment.owlEntailIncremental]] inside, every rule
    * prp-trp included — a schema edge or transitive declaration arriving
    * mid-stream replays the standing facts through just that edge). The dir is the batch_id/pred_bucket layout, so
    * [[graft.spark.GraphQuery.loadGraph]] queries it with pruning intact
    * at any point.
    *
    * Replay safety WITHOUT relying on the foreachBatch id: each fold
    * appends under a fresh internal batch partition (past every batch the
    * dir holds, [[graft.spark.IncrementalGraph.nextBatchId]]) and its
    * novelty anti-join skips whatever already landed — a replayed
    * micro-batch adds only what its first attempt missed, never overwriting
    * a partition that might hold earlier rows.
    */
  def closureStream(triples: Dataset[Triple], closureDir: String, checkpointDir: String,
                    predBuckets: Int = graft.spark.GraphLayout.DefaultBuckets)
      : org.apache.spark.sql.streaming.StreamingQuery =
    triples.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Triple], _: Long) =>
        import graft.spark.IncrementalGraph.{appendNovel, closureWith, nextBatchId}
        val spark = batch.sparkSession
        val d = batch.dropDuplicates(graft.model.Triple.identityCols).localCheckpoint()
        appendNovel(spark, closureWith(d, closureDir), closureDir, predBuckets,
          nextBatchId(spark, closureDir))
        ()
      }
      .start()

  // ---- stateful sessionization (custom per-key state) ----

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                              session_end: java.sql.Timestamp, n_events: Long)
  /** Open-session state: epoch-ms bounds + count (compact, encoder-friendly). */
  final case class SessionState(startMs: Long, lastMs: Long, n: Long)

  /** Streaming sessionization with custom per-user state
    * (`flatMapGroupsWithState` + event-time timeout): a user's events split
    * into sessions on > `gapMinutes` of inactivity; a session row is emitted
    * when the NEXT event proves the gap, or when the watermark passes the
    * open session's gap horizon (timeout). Semantics match the batch
    * `events_sessions` lag-window query; the streaming form holds one tiny
    * state row per active user instead of windowing history.
    */
  def sessionStream(events: Dataset[SessionEvent], gapMinutes: Int = 30,
                    watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapMs = gapMinutes * 60000L

    def update(userId: Long, it: Iterator[SessionEvent],
               state: GroupState[SessionState]): Iterator[SessionOut] = {
      def close(s: SessionState) = SessionOut(userId,
        new java.sql.Timestamp(s.startMs), new java.sql.Timestamp(s.lastMs), s.n)
      if (state.hasTimedOut) {
        val out = state.getOption.map(close).toList
        state.remove()
        out.iterator
      } else {
        // events inside a micro-batch are unordered: sort before folding
        val sorted = it.map(_.ts.getTime).toArray.sorted
        var closed = List.empty[SessionOut]
        var cur = state.getOption.orNull
        sorted.foreach { t =>
          cur =
            if (cur == null) SessionState(t, t, 1)
            else if (t - cur.lastMs > gapMs) { closed ::= close(cur); SessionState(t, t, 1) }
            // an in-watermark event can still predate the open session's
            // start (cross-batch out-of-order arrival): session_start must
            // move DOWN too, or the emitted bounds diverge from the batch
            // lag-window truth this operator is proven equal to
            else cur.copy(startMs = math.min(cur.startMs, t),
              lastMs = math.max(cur.lastMs, t), n = cur.n + 1)
        }
        if (cur != null) {
          state.update(cur)
          // fire when the watermark passes the open session's gap horizon
          state.setTimeoutTimestamp(cur.lastMs + gapMs)
        }
        closed.reverseIterator
      }
    }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(update)
  }
}
