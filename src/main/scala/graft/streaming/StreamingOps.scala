package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators. The reference has no streaming
  * surface (SURVEY.md §2.10); these are the beyond-parity stream
  * transforms a continuous ingestion pipeline needs, built so the SAME
  * transform serves batch and streaming frames (Structured Streaming's
  * unified Dataset API).
  */
object StreamingOps {

  /** Tumbling-window event aggregation. On a streaming frame add a
    * watermark first ([[withLateDataBound]]); on a batch frame it is the
    * windowed groupBy alone. Window starts are epoch-aligned, so a
    * 1-hour window start equals `date_trunc('hour', ts)` — the oracle
    * equivalence q_events_window relies on.
    */
  def windowedEventStats(df: DataFrame, windowLen: String): DataFrame =
    df.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  def withLateDataBound(df: DataFrame, delay: String): DataFrame =
    df.withWatermark("ts", delay)

  /** Streaming exact/near-exact dedup: drop rows whose key columns were
    * already seen, with state bounded by the event-time watermark
    * (`dropDuplicatesWithinWatermark` — duplicates arriving within the
    * delay are suppressed, state for keys older than the watermark is
    * evicted, so state size is bounded by the key arrival rate × delay
    * window instead of growing forever). Key by
    * [[graft.functions.TextFunctions.fingerprint]] of the text column
    * for streaming near-exact document dedup.
    */
  def dedupStream(df: DataFrame, keyCols: Seq[String], tsCol: String,
      delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keyCols)

  final case class SessionState(start: Long, last: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
      session_end: Timestamp, n_events: Long)

  /** Gap-based sessionization with explicit state —
    * `flatMapGroupsWithState` keyed by user, emitting a session when
    * `gapMs` of silence passes (reference has nothing comparable; this
    * is the canonical custom-state streaming op).
    *
    * Idle-session finalization: state registers an EVENT-TIME timeout at
    * `last + gapMs`; when the watermark passes it without a successor
    * event, the open session is EMITTED and its state removed — an idle
    * user neither holds state forever nor loses their last session
    * (with `NoTimeout` both happened). Event-time timeouts are driven by
    * the watermark, so on a streaming input the op installs one itself
    * (`lateness` = how long out-of-order events are admitted).
    *
    * Memory bound: each invocation sorts ONE user's events from the
    * CURRENT micro-batch (not all history — state carries only the
    * open session's 3 counters). Per-user-per-batch volume is the
    * bound; a pathological single-user firehose should be pre-bucketed
    * by (user, coarse time) upstream.
    */
  def sessionize(spark: SparkSession, events: DataFrame, gapMs: Long,
      lateness: String = "0 seconds"): Dataset[SessionOut] = {
    import spark.implicits._
    val projected = events
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"))
    // captured on the driver: batch runs have no watermark, so timeout
    // registration must be skipped there (it would throw)
    val isStreamingRun = events.isStreaming
    val typed =
      (if (isStreamingRun) projected.withWatermark("ts", lateness)
       else projected).as[(Long, Timestamp)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, Timestamp)],
            state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            // watermark passed last+gap with no new events: flush the
            // open session and drop the state
            val closed = state.getOption.map(s =>
              SessionOut(user, new Timestamp(s.start),
                new Timestamp(s.last), s.n))
            state.remove()
            closed.iterator
          } else {
            val times = rows.map(_._2.getTime).toSeq.sorted
            var st = state.getOption
            val out = Seq.newBuilder[SessionOut]
            // stragglers more than gapMs BEFORE the open session's start
            // can never belong to it (merging would stretch the session
            // start arbitrarily backward): sessionize them among
            // themselves and emit closed — their gap to the open session
            // exceeds gapMs by construction. Ancient stragglers split
            // across micro-batches cannot merge with each other (the
            // arrival-order streaming contract).
            val (ancient, current) = st match {
              case Some(s) => times.partition(_ < s.start - gapMs)
              case None    => (Seq.empty[Long], times)
            }
            var past: Option[SessionState] = None
            ancient.foreach { t =>
              past match {
                case Some(p) if t - p.last <= gapMs =>
                  past = Some(p.copy(last = t, n = p.n + 1))
                case Some(p) =>
                  out += SessionOut(user, new Timestamp(p.start),
                    new Timestamp(p.last), p.n)
                  past = Some(SessionState(t, t, 1))
                case None => past = Some(SessionState(t, t, 1))
              }
            }
            past.foreach(p => out += SessionOut(user,
              new Timestamp(p.start), new Timestamp(p.last), p.n))
            current.foreach { t =>
              st match {
                case Some(s) if t - s.last <= gapMs =>
                  // admitted out-of-order events (lateness > 0) must not
                  // move the session end BACKWARDS (the event-time timeout
                  // is registered at last+gap — a shrunken `last` would
                  // flush the session early); stragglers within gapMs of
                  // the start extend the session start instead (anything
                  // older was split off above)
                  st = Some(s.copy(start = math.min(s.start, t),
                    last = math.max(s.last, t), n = s.n + 1))
                case Some(s) =>
                  out += SessionOut(user, new Timestamp(s.start),
                    new Timestamp(s.last), s.n)
                  st = Some(SessionState(t, t, 1))
                case None =>
                  st = Some(SessionState(t, t, 1))
              }
            }
            st.foreach { s =>
              state.update(s)
              if (isStreamingRun) state.setTimeoutTimestamp(s.last + gapMs)
            }
            out.result().iterator
          }
        })
  }

  final case class TableState(version: Long, nLive: Long,
      bytes: Long)
  final case class TableSnapshot(table: String, version: Long,
      n_live: Long, live_bytes: Long)

  /** Streaming LAKEHOUSE TAIL — fold a live stream of commit-log
    * actions (table, version, kind, size) into a per-table running
    * snapshot (version high-water mark, live file count, live
    * bytes), emitted in Update mode after every micro-batch. The
    * batch analog is q_delta_checkpoint's reconciliation; this is
    * what a lake-health dashboard tails.
    *
    * State is O(1) PER TABLE — three counters — never a path set:
    * at 100 TB a table holds millions of live files and a path-set
    * state would eat the state store. The counter design leans on
    * the commit-log invariant that a remove names a previously
    * added file (and, like Delta's remove action, carries its
    * size); a malformed stream shows up as a negative counter —
    * surfaced, not hidden.
    */
  def commitTail(spark: SparkSession, actions: DataFrame)
      : Dataset[TableSnapshot] = {
    import spark.implicits._
    actions
      .select(col("table").cast("string"),
        col("version").cast("long"),
        col("kind").cast("string"), col("size").cast("long"))
      .as[(String, Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (table: String,
            rows: Iterator[(String, Long, String, Long)],
            state: GroupState[TableState]) => {
          var st = state.getOption
            .getOrElse(TableState(-1L, 0L, 0L))
          rows.foreach { case (_, v, kind, size) =>
            kind match {
              case "add" =>
                st = TableState(math.max(st.version, v),
                  st.nLive + 1, st.bytes + size)
              case "remove" =>
                st = TableState(math.max(st.version, v),
                  st.nLive - 1, st.bytes - size)
              case _ => // commitInfo/protocol/metaData: version only
                st = st.copy(version = math.max(st.version, v))
            }
          }
          state.update(st)
          TableSnapshot(table, st.version, st.nLive, st.bytes)
        })
  }

  final case class FillState(last: Double)
  final case class FillOut(user_id: Long, ts: Timestamp,
      value: java.lang.Double)

  /** Streaming forward-fill (LOCF): each key's nulls take the most
    * recent non-null value seen so far — state per key is ONE double,
    * never history, so state grows with key CARDINALITY only. For an
    * unbounded key universe (doc ids, session ids) even 8 bytes/key
    * grows forever: set `idleTtlMs` > 0 to install watermark-driven
    * eviction — a key idle past the TTL (by EVENT time) has its state
    * removed, and a later event for it restarts LOCF cold (its leading
    * nulls stay null — eviction trades exactly that for the bound;
    * with the default 0 nothing ever evicts and fills never reset).
    * `lateness` is the watermark delay used when eviction is on.
    *
    * Within a micro-batch, rows fill in event-time order; ACROSS
    * batches, fills follow arrival order (an out-of-order straggler
    * arriving after a later batch cannot retroactively fill it — the
    * inherent streaming-LOCF contract; the batch
    * [[graft.operators.EventOps.forwardFill]] is the exact
    * whole-history form).
    */
  def forwardFillStream(spark: SparkSession, events: DataFrame,
      idleTtlMs: Long = 0L, lateness: String = "0 seconds")
      : Dataset[FillOut] = {
    import spark.implicits._
    // event-time timeouts are watermark-driven: only available (and
    // only meaningful) on a streaming frame
    val evict = idleTtlMs > 0 && events.isStreaming
    val projected = events
      .select(col("user_id").cast("long").as("user_id"),
        col("ts").cast("timestamp").as("ts"),
        col("value").cast("double").as("value"))
    val typed = (if (evict) projected.withWatermark("ts", lateness)
      else projected).as[(Long, Timestamp, Option[Double])]
    val timeoutConf = if (evict) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    typed.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (user: Long, rows: Iterator[(Long, Timestamp, Option[Double])],
            state: GroupState[FillState]) => {
          if (state.hasTimedOut) {
            // idle past the TTL: drop the 8 bytes; the key restarts
            // cold on its next event
            state.remove()
            Iterator.empty
          } else {
            val sorted = rows.toSeq.sortBy(_._2.getTime)
            var last = state.getOption.map(_.last)
            val out = sorted.map { case (_, ts, v) =>
              last = v.orElse(last)
              FillOut(user, ts, last.map(Double.box).orNull)
            }
            last.foreach(l => state.update(FillState(l)))
            if (evict && state.exists)
              // never earlier than the current watermark (an admitted
              // straggler's ts + TTL could already be behind it)
              state.setTimeoutTimestamp(math.max(
                sorted.last._2.getTime + idleTtlMs,
                state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
        })
  }

  /** Streaming near-dup ingest against a persistent
    * [[graft.operators.BandIndex]]: every micro-batch of documents is
    * matched against the standing index (corpus signatures never
    * recomputed, index side never shuffles — the bucketed batch-join
    * machinery of `neardupIncrement`, reused verbatim through
    * `foreachBatch`, the idiomatic way to run battle-tested batch
    * logic inside a stream), its near-dup pairs handed to `sink`, and
    * then — when `appendToIndex` — the batch's band rows are appended
    * so LATER batches dedup against earlier ones, not just against
    * the original corpus. This is the rolling crawl-ingest shape: the
    * index is the pipeline's dedup memory, and its growth is one
    * (band, id, sig) row per document band — independent of how many
    * batches delivered the documents.
    *
    * Within-batch pairs are reported by the increment itself;
    * cross-batch pairs exist precisely because of the append. The
    * sink runs with at-least-once semantics on failure replay (the
    * standard foreachBatch contract — key on `epoch` to make a
    * downstream exactly-once); see [[graft.operators.BandIndex.append]]
    * for the replay caveat on the index side.
    */
  def neardupIngest(spark: SparkSession, table: String,
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5, maxBucket: Long = 10000L,
      appendToIndex: Boolean = true)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        sink(graft.operators.BandIndex.neardupIncrement(spark, table,
          batch, idCol, textCol, threshold, maxBucket), epoch)
        if (appendToIndex)
          graft.operators.BandIndex.append(spark, table, batch,
            idCol, textCol)
      }
      .start()

  /** Streaming CRAWL ingest — the end-to-end composition the batch
    * q_crawl_curate query runs, as a continuous pipeline: each
    * micro-batch of raw WARC payloads (plain, .warc.gz, or
    * .warc.zst, detected per row by magic) is unwrapped via
    * [[graft.operators.Archive.warcRecordRowsAuto]], response bodies
    * pass the Gopher-style quality gate, survivors are flagged
    * against the standing [[graft.operators.BandIndex]] near-dup
    * index, and then appended so later epochs dedup against earlier
    * ones. All three pieces are the batch operators verbatim
    * (foreachBatch), so stream == batch on the same bytes —
    * StreamingOpsSpec pins the equality epoch by epoch.
    *
    * Scale shape: unwrap + quality gate are map-only over the batch;
    * the increment shuffles only the BATCH's band rows (bucket-
    * pruned against the index); the append adds one band row per
    * kept document. Same at-least-once replay contract as
    * [[neardupIngest]].
    */
  def crawlIngest(spark: SparkSession, table: String,
      warcs: DataFrame, idCol: String, contentCol: String,
      threshold: Double = 0.5, maxBucket: Long = 10000L,
      appendToIndex: Boolean = true)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    warcs.writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val rows = graft.operators.Archive.warcRecordRowsAuto(
            batch, idCol, contentCol)
          .filter(col("warc_type") === "response")
          .select(col(idCol), col("body_text").as("__crawl_text"))
        val kept = rows.filter(
          graft.functions.TextFunctions.qualityKeep(
            col("__crawl_text")))
        sink(graft.operators.BandIndex.neardupIncrement(spark, table,
          kept, idCol, "__crawl_text", threshold, maxBucket), epoch)
        if (appendToIndex)
          graft.operators.BandIndex.append(spark, table, kept,
            idCol, "__crawl_text")
      }
      .start()

  /** Streaming ANN ingest over a persistent [[graft.operators
    * .IvfPqIndex]]: each micro-batch is searched against the standing
    * compressed index (top-k by exact asymmetric distance — dedup
    * checks, link-to-existing, recommendation backfill), then
    * appended with the STORED quantizers, so the index stays current
    * without ever re-reading or re-encoding the standing corpus.
    * Epoch cost is O(batch × probed lists); batches also see every
    * PREVIOUSLY accepted batch because the append lands before the
    * next epoch's search. The reader handle is re-opened per epoch
    * (two tiny table reads) so an external rebuild between epochs is
    * picked up automatically.
    */
  def annIngest(spark: SparkSession, table: String, vecs: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 4,
      appendToIndex: Boolean = true)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        val hits = graft.operators.IvfPqIndex.query(spark, table,
          batch, idCol, vecCol, k, nProbe)
        sink(hits, epoch)
        if (appendToIndex)
          graft.operators.IvfPqIndex.append(spark, table, batch,
            idCol, vecCol)
      }
      .start()

  /** Streaming decontamination: every micro-batch of incoming
    * documents is screened against the FIXED benchmark set before it
    * reaches the corpus sink — the ingest-time form of
    * [[graft.operators.Decontaminate.removeContaminatedBloom]], so
    * contaminated documents never land rather than being scrubbed
    * later. The benchmark side folds into its Bloom filter + exact
    * gram set once per epoch from the standing `bench` frame (eval
    * sets are small and static by contract); each epoch's cost is one
    * map-side Bloom probe + verify join over the BATCH only.
    * Bit-identical keep/drop decisions to the batch operator —
    * StreamingOpsSpec pins stream == batch on the same data.
    */
  def decontaminateIngest(spark: SparkSession, docs: DataFrame,
      bench: DataFrame, idCol: String, textCol: String,
      benchTextCol: String, n: Int = 8)
      (sink: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        sink(graft.operators.Decontaminate.removeContaminatedBloom(
          batch, idCol, textCol, bench, benchTextCol, n), epoch)
      }
      .start()

  /** Drain any pending session state (batch-mode finalize). Gap
    * detection runs at MICROsecond granularity (`unix_micros`) — a
    * plain `cast("long")` truncates to seconds and silently rounds
    * sub-second gaps.
    */
  def finalizeSessions(spark: SparkSession, events: DataFrame,
      gapMs: Long): DataFrame = {
    import spark.implicits._
    // Batch equivalent of the stateful op: window-lag gap detection.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts")
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        (col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts"))
            > gapMs * 1000L).cast("int"))
      .withColumn("session_id",
        sum(col("new_session")).over(
          w.rowsBetween(Long.MinValue, 0)))
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("session_start"), max("ts").as("session_end"),
        count(lit(1)).as("n_events"))
  }
}
