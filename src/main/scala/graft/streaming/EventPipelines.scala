package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import java.sql.Timestamp

/** Streaming/incremental processing over the `events` schema —
  * the Spark-native re-expression of the reference's resumable
  * checkpointed loop (arbirk/ETL-template tools/tools.go:676-806):
  *
  *  - the reference persists `LastSuccessfullyProcessedIndex` after
  *    every record and skips past it on restart (ST1/ST2) → Structured
  *    Streaming's `checkpointLocation` offset log, with
  *    `Trigger.AvailableNow` for batch-shaped incremental runs
  *  - per-record retry (ST3) → `foreachBatch` + [[graft.pipeline
  *    .Transforms.retry]] against an idempotent sink (epoch id =
  *    the retry key)
  *  - the reference has NO event-time concepts (SURVEY.md §2.7:
  *    wall-clock only) — watermarks, tumbling/sliding/session windows
  *    and stateful dedup below are north-star surface over `events`
  *
  * All transforms are source-agnostic `DataFrame => DataFrame`: the
  * same code runs on `readStream` (incremental) and `read` (batch
  * backfill) inputs — Spark's unified batch/streaming contract.
  *
  * Scale notes: every aggregation below keys its state by (window,
  * key-column) and carries a watermark, so state size is bounded by
  * (active windows × keys) and late data past the watermark is dropped
  * instead of growing state forever. Shuffle = one exchange per agg on
  * the group keys, the minimum possible.
  */
object EventPipelines {

  final case class Event(
      event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  /** Tumbling 10-minute per-type counts with a 5-minute watermark. */
  def tumblingCounts(events: DataFrame,
      window_ : String = "10 minutes", watermark: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Sliding windows: 10-minute windows every 5 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Session windows per user: gap-based (5-minute inactivity closes). */
  def sessionAgg(events: DataFrame, gap: String = "5 minutes"): DataFrame =
    events
      .withWatermark("ts", "5 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("session_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("session_value"))

  /** Stateful exact dedup by event_id, state bounded by the watermark
    * (duplicates can only arrive within the lateness horizon). */
  def dedupWithinWatermark(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  // -------------------------------------------------------------------
  // Arbitrary per-key state: running per-user aggregate via
  // flatMapGroupsWithState — the general extension point the
  // reference's LoopState (tools.go:60-62) maps to when the state is
  // per-key instead of per-file.

  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  def runningPerUser(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserRunning, UserRunning](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Event], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { e => n += 1; tot += e.value }
          val next = UserRunning(uid, n, tot)
          state.update(next)
          Iterator.single(next)
      }
  }

  /** transformWithState variant of [[runningPerUser]] — the modern
    * arbitrary-state API (Spark 4): named state variables with
    * per-variable encoders and TTL, instead of a single implicit state
    * value. Requires the RocksDB state store provider. */
  class RunningTotalProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserRunning] {
    import org.apache.spark.sql.streaming.{TTLConfig, TimerValues, ValueState}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var state: ValueState[UserRunning] = _

    override def init(outputMode: streaming.OutputMode,
        timeMode: streaming.TimeMode): Unit =
      state = getHandle.getValueState[UserRunning](
        "running", Encoders.product[UserRunning], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserRunning] = {
      val prev = Option(state.get()).getOrElse(UserRunning(key, 0L, 0.0))
      var n = prev.n_events
      var tot = prev.total_value
      rows.foreach { e => n += 1; tot += e.value }
      val next = UserRunning(key, n, tot)
      state.update(next)
      Iterator.single(next)
    }
  }

  def runningPerUserTws(events: Dataset[Event]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  final case class UserSession(
      user_id: Long, session_start: Timestamp, session_end: Timestamp, n_events: Long)

  /** Custom sessionization with EVENT-TIME TIMERS, equivalent to
    * session_window(): state per key is the LIST of not-yet-final
    * sessions. Each event is a single-point interval; intervals whose
    * gap is <= gapMs merge (so two bursts hours apart in ONE microbatch
    * stay two sessions — results are batch-boundary independent, and a
    * late-but-in-watermark event can still extend a buffered session).
    * One timer per key at earliest(session_end) + gap; when the
    * watermark passes it, sessions whose gap horizon is behind the
    * watermark are emitted and dropped, the rest re-arm. Exposed as an
    * extension point for session logic the built-in can't express
    * (per-key dynamic gaps, emit-on-update, session enrichment). State
    * per key is O(open sessions), watermark-bounded. */
  class SessionTimerProcessor(gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, UserSession] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, TimerValues, TTLConfig}
    import org.apache.spark.sql.{Encoders, streaming}
    @transient private var sess: ListState[UserSession] = _

    override def init(outputMode: streaming.OutputMode,
        timeMode: streaming.TimeMode): Unit =
      sess = getHandle.getListState[UserSession](
        "sessions", Encoders.product[UserSession], TTLConfig.NONE)

    // exactly one live timer per key: at the earliest possible close
    private def rearm(open: Seq[UserSession]): Unit = {
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      if (open.nonEmpty)
        getHandle.registerTimer(open.map(_.session_end.getTime).min + gapMs)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
        timerValues: TimerValues): Iterator[UserSession] = {
      val intervals =
        (sess.get().toSeq ++ rows.map(e => UserSession(key, e.ts, e.ts, 1L)))
          .sortBy(s => (s.session_start.getTime, s.session_end.getTime))
      val merged = scala.collection.mutable.ArrayBuffer.empty[UserSession]
      intervals.foreach { s =>
        merged.lastOption match {
          // STRICT <: session_window is half-open [start, end+gap) — an
          // event exactly gap after the last one starts a NEW session
          case Some(p) if s.session_start.getTime < p.session_end.getTime + gapMs =>
            merged(merged.length - 1) = p.copy(
              session_end = new Timestamp(
                math.max(p.session_end.getTime, s.session_end.getTime)),
              n_events = p.n_events + s.n_events)
          case _ => merged += s
        }
      }
      if (merged.nonEmpty) sess.put(merged.toArray) else sess.clear()
      rearm(merged.toSeq)
      Iterator.empty // emit only on session close (timer fire)
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[UserSession] = {
      val wm = timerValues.getCurrentWatermarkInMs()
      val (closed, open) =
        sess.get().toSeq.partition(_.session_end.getTime + gapMs <= wm)
      if (open.nonEmpty) sess.put(open.toArray) else sess.clear()
      rearm(open)
      closed.sortBy(_.session_start.getTime).iterator
    }
  }

  /** Gap-based sessions via [[SessionTimerProcessor]] — requires a
    * watermark on `ts` (event-time timers fire off the watermark). */
  def sessionsByTimer(events: Dataset[Event], gapMs: Long = 5 * 60 * 1000L): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .withWatermark("ts", "10 minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Stream-stream interval join: purchases matched to the same user's
    * clicks within the preceding hour. Both sides carry watermarks so
    * the join state is bounded: a click can be dropped once no
    * purchase within its interval can still arrive. */
  def clickToPurchase(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
      col("c_user") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
  }

  /** Batch-shaped incremental run (the reference's whole execution
    * model): process everything available now, checkpoint offsets,
    * stop. Rerunning with the same checkpoint resumes exactly after
    * the last committed batch — ST1's resume semantics at epoch
    * granularity (SURVEY.md §7.4). Returns the TERMINATED query so
    * callers can audit `recentProgress` — watermark drop accounting
    * (`stateOperators.numRowsDroppedByWatermark`), per-epoch row
    * counts — the observability half of a late-data contract. */
  def runAvailableNow(
      out: DataFrame,
      checkpoint: String,
      sinkPath: String,
      outputMode: String = "append")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val q = out.writeStream
      .outputMode(outputMode)
      .format("json")
      .option("checkpointLocation", checkpoint)
      .option("path", sinkPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }

  /** The loop every catalog sink below runs on: an append-mode
    * `foreachBatch` query over everything available now, checkpointed
    * at `checkpoint`, run to termination. `f` gets each epoch's batch
    * and id. Epoch ids continue across restarts, and an epoch whose
    * offsets were logged but never committed (a crash inside `f`, or
    * between `f` and the commit marker) replays under the SAME id —
    * so every catalog write in `f` is guarded by [[committed]] and
    * tagged with the epoch. */
  private def eachEpoch(in: DataFrame, checkpoint: String)(
      f: (DataFrame, Long) => Unit): Unit =
    in.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch(f)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

  /** The exactly-once guard of every catalog sink: `epoch` is already
    * committed to `step` iff some retained version carries an epoch tag
    * ≥ it. Sinks commit through `writeNext(…, epochTag = Some(epoch))`
    * (or `merge`'s same argument), which writes the tag INTO the staged
    * directory before the promote rename, so "version published" and
    * "epoch recorded" commit in one atomic operation and a crash cannot
    * split them. Epochs of one stream are monotone, so "max tag ≥
    * epoch" ⟺ "this epoch already committed".
    *
    * The max across ALL retained versions, never the latest version's
    * tag and never version arithmetic: it stays true after a later
    * operation rewrote the latest version without the tag (compact
    * carries it; a manual republish might not), and version gaps
    * (a compaction, a crash-orphaned claim) never read as replays. The
    * replay window reopens only if every tagged version is vacuumed,
    * and vacuum always keeps the newest. */
  private def committed(
      cat: graft.catalog.VersionedCatalog, step: String, epoch: Long): Boolean =
    cat.maxEpochTag(step).exists(_ >= epoch)

  /** Streaming sink into the versioned catalog: every epoch commits as
    * the next immutable version, tagged with its epoch id. Exactly-once
    * without transactions: if a failure lands between the catalog commit
    * and the offset commit, the replayed epoch finds its tag and skips —
    * the idempotent-resume shape the reference gets from
    * LastSuccessfullyProcessedIndex (tools.go:676-806), carried to
    * versioned storage. Incremental ETL = this sink + time travel. */
  def runCatalogSink(
      out: DataFrame,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String): Unit =
    eachEpoch(out, checkpoint) { (batch, epoch) =>
      if (!committed(cat, step, epoch)) {
        // catalog is BEHIND the checkpoint (root wiped/moved, retention
        // mishap): skipping would silently drop every future epoch —
        // fail fast; the operator must reconcile checkpoint vs catalog
        if (epoch > 0 && !committed(cat, step, epoch - 1))
          throw new IllegalStateException(
            s"catalog sink: step $step holds no epoch ${epoch - 1} but epoch " +
              s"$epoch arrived — catalog/checkpoint desync, refusing to drop data")
        cat.writeNext(step, batch, epochTag = Some(epoch))
      }
    }

  /** Streaming CDC upsert sink: every epoch MERGES into the catalog step
    * (row-wise upsert on `keys`) instead of appending — an incrementally
    * maintained materialized table. The first epoch bootstraps the
    * table. Each commit carries its epoch tag, so a replayed epoch skips
    * without a redundant version.
    *
    * Contract: each epoch must carry at most ONE row per key — reduce
    * upstream (e.g. max_by on an event-time column) if the source can
    * emit several changes per key per epoch; merge() fails fast on
    * duplicate keys rather than persisting a fan-out. */
  def runCatalogMergeSink(
      out: DataFrame,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String,
      keys: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Unit =
    eachEpoch(out, checkpoint) { (batch, epoch) =>
      if (!committed(cat, step, epoch)) {
        if (cat.latestVersion(step).isEmpty)
          cat.writeNext(step, batch, epochTag = Some(epoch))
        else cat.merge(step, batch, keys, Some(schema), epochTag = Some(epoch))
      }
    }

  /** foreachBatch with per-batch retry against a user sink — ST3's
    * retry at epoch granularity; pair with an idempotent sink keyed on
    * (batchId) for exactly-once effects. */
  def runForeachBatchWithRetry(
      out: DataFrame,
      checkpoint: String,
      cfg: graft.pipeline.Transforms.RetryConfig)(
      sink: (DataFrame, Long) => Unit): Unit = {
    val q = out.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.pipeline.Transforms.retry(cfg)(sink(batch, id))
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Incrementally-maintained count-min sketch over an UNBOUNDED-
    * cardinality item stream — the sketch answer to the state-size
    * problem every streaming aggregation above solves with watermarks:
    * a running per-item count over arbitrary items grows state with
    * the key space, but the CMS keeps EXACTLY D×W cells regardless
    * (here 4×64), each an additive count — so the state is fixed-size
    * by construction, no watermark needed, and any item's running
    * frequency estimate is min_d cell(d, h_d(item)) with the one-sided
    * CMS guarantee. Items place through [[graft.ext.CountMin.cellCol]]
    * — the SAME md5-derived definition the batch sketch (q102) uses —
    * so a streamed sketch equals the batch sketch over the same rows
    * (the unified-API property, spec-pinned) and merges with
    * catalog-persisted batch sketches by cell-wise addition. */
  def countMinCells(items: DataFrame, item: org.apache.spark.sql.Column): DataFrame =
    items
      .select(explode(sequence(lit(0), lit(graft.ext.CountMin.dRows - 1))).as("d"),
        item.cast("string").as("t"))
      .withColumn("w", graft.ext.CountMin.cellCol(col("d"), col("t")))
      .groupBy(col("d"), col("w"))
      .agg(count(lit(1)).as("cell_sum"))

  /** Fold one stream epoch's PARTIAL sketch into the catalog-persisted
    * running sketch — cell-wise addition
    * ([[graft.ext.CountMin.mergeSketches]], the q104 operator),
    * committed with the epoch id as an atomic version tag
    * ([[committed]]). Replay-idempotent BECAUSE of that atomicity: an
    * additive fold is not content-idempotent (replaying a committed
    * epoch would double-add its counts), so the skip decision must be
    * as durable as the version itself. */
  private[streaming] def foldSketchEpoch(
      cat: graft.catalog.VersionedCatalog, step: String,
      epochCells: DataFrame, epoch: Long,
      retain: Option[Int] = None): Unit =
    foldEpoch(cat, step, epochCells, epoch,
      graft.ext.CountMin.mergeSketches, boundedState = true, retain = retain)

  /** The shared epoch fold every fold-type sink instantiates: unless
    * [[committed]], merge-or-init and commit tagged. ONE copy of the
    * skip/write logic, so the sinks' crash semantics can never diverge
    * — only the merge law differs.
    *
    * RETENTION (`retain = Some(k)`): after a fold commits version N,
    * vacuum every version ≤ N − k — for FOLD-type sinks each version
    * is a complete servable state, so old versions are redundant
    * history that would otherwise accumulate one version per epoch
    * forever (thousands/month at minutes-scale epochs). Append-type
    * sinks must NOT pass retain (their versions are the history).
    * Replay stays a no-op after a vacuum: the latest version always
    * carries the latest epoch tag, and vacuum always keeps ≥ 1. The
    * vacuum runs only on the epoch that committed (inside the guard),
    * so a replayed already-folded epoch cannot even re-trigger
    * deletion. */
  private def foldEpoch(
      cat: graft.catalog.VersionedCatalog, step: String,
      epochDf: DataFrame, epoch: Long,
      merge: (DataFrame, DataFrame) => DataFrame,
      boundedState: Boolean = false,
      retain: Option[Int] = None): Unit =
    if (!committed(cat, step, epoch)) {
      val next = cat.latestVersion(step) match {
        case None => epochDf
        case Some(_) => merge(cat.latest(step), epochDf)
      }
      // a BOUNDED state table (≤ m sketch rows by construction) must
      // commit as ONE file — the merge's shuffle would otherwise
      // scatter 256 rows over `shuffle.partitions` near-empty files,
      // and every fold/serve pays the listing. State that grows with
      // data (LM bigrams, index assignments) keeps its partitioning.
      val out = if (boundedState) next.coalesce(1) else next
      cat.writeNext(step, out, epochTag = Some(epoch))
      retain.foreach(k => cat.vacuum(step, k))
    }

  /** Streaming HLL → catalog: each epoch reduces to a complete
    * m-register table ([[graft.ext.Hll.registerCells]] — the exact
    * q107 register definition, so streamed state merges with
    * document-built sketches) and folds in by register-wise MAX
    * ([[graft.ext.Hll.mergeRegisters]]). MAX-merge is
    * content-IDEMPOTENT, so a replay could never corrupt counts — the
    * epoch tag here only prevents the redundant version. Fixed m-row
    * state over unbounded item cardinality; every version is a
    * complete servable distinct-count sketch. */
  def runCatalogRegisterSink(
      items: DataFrame,
      item: org.apache.spark.sql.Column,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String,
      retain: Option[Int] = None): Unit =
    eachEpoch(items, checkpoint) { (batch, epoch) =>
      foldEpoch(cat, step, graft.ext.Hll.registerCells(batch, item), epoch,
        graft.ext.Hll.mergeRegisters, boundedState = true, retain = retain)
    }

  /** Streaming histogram → catalog: each epoch reduces to a complete
    * B-bin table ([[graft.ext.HistSketch.binCells]] — the exact q112
    * bin definition, so streamed state merges with batch-built
    * sketches) and folds in by bin-wise ADDITION
    * ([[graft.ext.HistSketch.mergeBins]]) — additive like CMS, NOT
    * content-idempotent, so the epoch tag carries exactly-once. Fixed
    * B-row state over an unbounded value stream; every version is a
    * complete servable quantile sketch (q113-style cumulative probes
    * read `latest`). */
  def runCatalogHistogramSink(
      rows: DataFrame,
      value: org.apache.spark.sql.Column,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String,
      retain: Option[Int] = None): Unit =
    eachEpoch(rows, checkpoint) { (batch, epoch) =>
      foldEpoch(cat, step, graft.ext.HistSketch.binCells(batch, value), epoch,
        graft.ext.HistSketch.mergeBins, boundedState = true, retain = retain)
    }

  /** Streaming sketch → catalog serving loop: each epoch reduces its
    * raw items to a PARTIAL D×W sketch ([[countMinCells]] applied to
    * the epoch's batch — same cell definition as q102) and folds it
    * into the catalog-persisted running sketch ([[foldSketchEpoch]]).
    * The CATALOG is the state: the stream itself keeps no aggregation
    * state at all (no watermark needed, nothing grows with key
    * cardinality), every version is a complete servable sketch
    * (q103-style heavy-hitter probes read `latest`), and CMS linearity
    * makes the fold exact — stream(A₁)⊕…⊕stream(Aₙ) ≡ batch(A₁∪…∪Aₙ).
    * The atomic epoch tag makes a crash ANYWHERE in the window safe:
    * before the version promote, the epoch replays and folds once;
    * after it, the replay sees its own tag and skips — never a
    * double-add, never a redundant version. */
  def runCatalogSketchSink(
      items: DataFrame,
      item: org.apache.spark.sql.Column,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String,
      retain: Option[Int] = None): Unit =
    eachEpoch(items, checkpoint) { (batch, epoch) =>
      foldSketchEpoch(cat, step, countMinCells(batch, item), epoch, retain)
    }

  /** STREAMING index maintenance — the streaming twin of
    * [[graft.operators.SimilarityJoin.ivfAppendAssign]]: each epoch's
    * new vectors assign through the PERSISTED centroid structure (the
    * same compiled map-side kernel; the corpus is never re-scanned)
    * and append to the catalog assignment table by unionByName. Append
    * is NOT content-idempotent — a replayed epoch would duplicate its
    * rows — so the fold rides the shared atomic-epoch-tag guard
    * exactly like the additive CMS/histogram folds: the epoch's rows
    * and its tag commit in one rename, and a replay skips. Serving and
    * occupancy reads ([[graft.operators.SimilarityJoin
    * .indexOccupancyReport]]) take `latest` at any time; every version
    * is a complete, servable assignment table. */
  def runCatalogIndexAppendSink(
      newVecs: DataFrame,
      id: org.apache.spark.sql.Column,
      vec: org.apache.spark.sql.Column,
      centroidsDf: DataFrame,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String): Unit =
    eachEpoch(newVecs, checkpoint) { (batch, epoch) =>
      val asg = graft.operators.SimilarityJoin
        .ivfAssignTable(batch, id, vec, centroidsDf)
        .select(col("vec_id").cast("long"), col("cell"))
      foldEpoch(cat, step, asg, epoch, (base, fresh) => base.unionByName(fresh))
    }

  /** Streaming EXACT DEDUP at ingest — the streaming member of the
    * dedup family (batch = q40, incremental-vs-corpus = q80/q89; this
    * one runs ON the ingest stream): emit each key's FIRST arrival,
    * drop later duplicates, with state bounded by the event-time
    * watermark (`dropDuplicatesWithinWatermark` — a key's state is
    * freed once the watermark passes its event time, so unbounded key
    * cardinality cannot accumulate unbounded state; a duplicate
    * arriving later than `delay` after its original is out of
    * contract, the standard at-scale trade). Key and event-time are
    * caller expressions so document streams dedup on content hashes
    * the same way event streams dedup on ids. */
  def streamingExactDedup(
      rows: DataFrame,
      key: org.apache.spark.sql.Column,
      eventTime: String,
      delay: String): DataFrame =
    rows.withColumn("_dedup_key", key)
      .withWatermark(eventTime, delay)
      .dropDuplicatesWithinWatermark("_dedup_key")
      .drop("_dedup_key")

  /** Streaming LM → catalog: the fourth member of the sketch-sink
    * family (CMS [[runCatalogSketchSink]], HLL
    * [[runCatalogRegisterSink]], histogram
    * [[runCatalogHistogramSink]]). Each epoch's documents reduce to a
    * bigram-count table ([[graft.ext.LmScore.bigramCounts]] — the
    * exact q121 definition, so streamed state merges with batch-fit
    * LMs) and a vocabulary table, folding into TWO catalog steps:
    * `<step>_bg` additively (bigram counts are linear like CMS cells —
    * NOT content-idempotent, the atomic epoch tag carries
    * exactly-once) and `<step>_vocab` by union-distinct (idempotent —
    * the tag only prevents a redundant version). Serving reads both
    * steps at any version pair via
    * [[graft.ext.LmScore.scoreAgainstLm]] (the q122 path). State is
    * LM-sized (bigram vocabulary), never corpus-sized. */
  def runCatalogLmSink(
      docs: DataFrame,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String,
      retain: Option[Int] = None): Unit =
    eachEpoch(docs, checkpoint) { (batch, epoch) =>
      foldEpoch(cat, s"${step}_bg",
        graft.ext.LmScore.bigramCounts(batch), epoch,
        graft.ext.LmScore.mergeBigramCounts, retain = retain)
      foldEpoch(cat, s"${step}_vocab",
        graft.ext.LmScore.vocabTokens(batch), epoch,
        (base, fresh) => base.unionByName(fresh).distinct(),
        retain = retain)
    }

  /** Streaming TOKENIZER state → catalog: the fifth member of the
    * sketch-sink family. Each epoch's documents reduce to a
    * word-frequency table ([[graft.ext.Bpe.wordCounts]] — the exact
    * q131 training input, so streamed state trains identically to
    * batch) folding additively into `<step>_wc`
    * ([[graft.ext.Bpe.mergeWordCounts]] — linear like CMS cells, NOT
    * content-idempotent, so exactly-once rides the shared atomic epoch
    * tag). Serving TRAINS from any version's counts
    * ([[graft.ext.Bpe.trainMergesFromCounts]], the q135 path): the
    * merges argmax chain is derived state, never folded. State is
    * vocabulary-sized, never corpus-sized. */
  def runCatalogBpeSink(
      docs: DataFrame,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String,
      retain: Option[Int] = None): Unit =
    eachEpoch(docs, checkpoint) { (batch, epoch) =>
      foldEpoch(cat, s"${step}_wc",
        graft.ext.Bpe.wordCounts(batch), epoch,
        graft.ext.Bpe.mergeWordCounts, retain = retain)
    }

  /** Streaming LINE STATS → catalog: the sixth member of the
    * sketch-sink family. Each epoch's documents reduce to a per-line
    * distinct-doc count table ([[graft.ext.Boilerplate.lineStats]]
    * over token-window lines — the exact q143/q149 definition) folding
    * additively into `<step>_lines`
    * ([[graft.ext.Boilerplate.mergeLineStats]] — linear for
    * epoch-partitioned corpora since each doc lives in exactly one
    * epoch; NOT content-idempotent, so exactly-once rides the shared
    * atomic epoch tag). Serving cleans any batch against any version
    * ([[graft.ext.Boilerplate.removeLinesUnder]], the q149 path).
    * State is ∝ distinct lines, never corpus-sized. */
  def runCatalogLineStatsSink(
      docs: DataFrame,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String,
      retain: Option[Int] = None): Unit =
    eachEpoch(docs, checkpoint) { (batch, epoch) =>
      foldEpoch(cat, s"${step}_lines",
        graft.ext.Boilerplate.lineStats(
          graft.ext.Boilerplate.linesTokenWindows(batch)), epoch,
        graft.ext.Boilerplate.mergeLineStats, retain = retain)
    }

  /** Streaming DRIFT MONITOR → catalog: q179's count state maintained
    * by a stream. Each epoch's documents reduce to their (source,
    * power-of-2-length-bucket) doc counts
    * ([[graft.ext.Curation.sourceBucketCounts]] — the exact q178/q179
    * construction, so streamed state serves the same report) and fold
    * in by per-key SUM ([[graft.ext.Curation.mergeSourceBucketCounts]]
    * — the linear-sketch law: the fold IS the union corpus's counts).
    * Additive state, so the atomic epoch tag is the exactly-once
    * guard — a replayed epoch would double its counts; the tag skips
    * it. Bounded state (sources × ~dozen buckets) commits as one file;
    * every version is a complete servable drift snapshot for
    * [[graft.ext.Curation.driftReport]] with zero corpus re-scans. */
  def runCatalogDriftSink(
      docs: DataFrame,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String,
      retain: Option[Int] = None): Unit =
    eachEpoch(docs, checkpoint) { (batch, epoch) =>
      foldEpoch(cat, s"${step}_drift",
        graft.ext.Curation.sourceBucketCounts(batch), epoch,
        graft.ext.Curation.mergeSourceBucketCounts,
        boundedState = true, retain = retain)
    }

  /** Streaming RETRIEVAL INDEX → catalog: q169/q185's BM25 inverted
    * index maintained by a stream. Each epoch's documents contribute
    * their postings ([[graft.ext.Retrieval.bm25Postings]] — the exact
    * q169/q185 construction, so streamed state serves the same scoring
    * plan) and per-doc lengths, folded by UNION (doc-keyed growing
    * sets — the q115 append discipline; epochs carry disjoint new
    * docs); per-term document frequencies fold by per-term SUM and the
    * 1-row corpus stats fold element-wise — both additive, so the
    * atomic epoch tag is the exactly-once guard (a replay would double
    * them; the tag skips it). The four writes are individually
    * guarded: a crash mid-epoch replays safely. Every version is a
    * complete servable index —
    * [[graft.ext.Retrieval.bm25ServedScores]] reads any epoch's four
    * tables and its scores are bit-equal to the in-query q59
    * definition over the streamed union (tf = 0 ≡ +0.0); streamed
    * history is never re-tokenized. */
  def runCatalogRetrievalIndexSink(
      docs: DataFrame,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String,
      retain: Option[Int] = None,
      positional: Boolean = false): Unit =
    eachEpoch(docs, checkpoint) { (batch, epoch) =>
      val tk = graft.ext.Retrieval.bm25Tokenize(batch)
        .localCheckpoint(eager = false) // 4 epoch tables read it
      val postings = graft.ext.Retrieval.bm25Postings(tk)
      // positional postings ride the same sink (the phrase/proximity
      // index, q219/q220's layout): per-doc rows are disjoint across
      // epochs, so UNION append is the whole maintenance story —
      // streamed history is never re-tokenized and any version
      // serves the adjacency-join phrase plan.
      if (positional)
        foldEpoch(cat, s"${step}_ppost",
          graft.ext.PhraseSearch.positionalPostings(
            tk.select(col("doc_id"), col("tk"))), epoch,
          (a, b) => a.unionByName(b), retain = retain)
      foldEpoch(cat, s"${step}_postings", postings, epoch,
        (a, b) => a.unionByName(b), retain = retain)
      foldEpoch(cat, s"${step}_docstats",
        tk.select(col("doc_id"), col("dl")), epoch,
        (a, b) => a.unionByName(b), retain = retain)
      foldEpoch(cat, s"${step}_terms",
        postings.groupBy(col("term")).agg(count(lit(1)).as("df")), epoch,
        (a, b) => a.unionByName(b).groupBy(col("term"))
          .agg(sum(col("df")).as("df")), retain = retain)
      foldEpoch(cat, s"${step}_stats",
        tk.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot")), epoch,
        (a, b) => a.unionByName(b)
          .agg(sum(col("n_docs")).as("n_docs"), sum(col("tot")).as("tot")),
        boundedState = true, retain = retain)
    }

  /** Streaming WEIGHTED ORDER SAMPLE → catalog (q225's sampler as
    * maintained state): each epoch scores its batch with the shared
    * priority rule ([[graft.ext.Curation.orderSamplePriorities]]) and
    * folds into the per-source k-minimum-priority sample by
    * union + re-top-k — EXACT because min-k is associative over unions
    * (the law test proves streamed ≡ batch-over-union row for row).
    * State is k·|sources| rows regardless of history length: the
    * distributed, resumable form of reservoir-style PPS sampling —
    * every version is a complete servable sample, time-travelable like
    * every other serving family. Fold-type sink ⇒ retain applies; the
    * atomic epoch tag is REQUIRED for exactness, not just dedup
    * hygiene: the merge unions raw rows and the bounded-heap top-k has
    * bag semantics, so a re-applied epoch would insert already-sampled
    * docs twice and evict legitimate rows — this fold is NOT
    * content-idempotent (same discipline as the other fold sinks in
    * this file). */
  def runCatalogWeightedSampleSink(
      docs: DataFrame,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String,
      retain: Option[Int] = None): Unit = {
    val cols = Seq("source", "doc_id", "n_chars", "pri").map(col)
    eachEpoch(docs, checkpoint) { (batch, epoch) =>
      foldEpoch(cat, s"${step}_sample",
        graft.ext.Curation.orderSampleTopK(
          graft.ext.Curation.orderSamplePriorities(batch)), epoch,
        (a, b) => graft.ext.Curation.orderSampleTopK(
          a.select(cols: _*).unionByName(b.select(cols: _*))),
        boundedState = true, retain = retain)
    }
  }

  /** Streaming SEMANTIC DEDUP → catalog: the embedding-side member of
    * the streaming dedup matrix (MinHash clusters
    * [[runCatalogClusterSink]], band index [[runCatalogDedupIndexSink]];
    * this one closes the q89/q93 embedding-verdict hole). Each epoch's
    * vectors assign through the FIXED centroid table — the persisted
    * structure, so cell membership cannot drift across epochs — then
    * the batch dedups against the committed pool ∪ itself with q89's
    * exact primitive (a new vector is a dup iff a lower-id same-cell
    * vector clears the cosine threshold), the per-cell verdict summary
    * commits as this epoch's `<step>_verdicts` version, and the
    * assigned batch folds into the `<step>_pool` union. Work per epoch
    * ∝ Σ |new∩cell|·|cell| — delta-sized, the q80 shape at embedding
    * level. NEITHER fold is content-idempotent (the pool union would
    * duplicate rows, a re-run verdict version would double-report), so
    * the atomic epoch tags are the exactly-once guard on both steps;
    * the two writes are individually guarded, so a crash between them
    * replays safely (the committed verdicts write is skipped, the pool
    * fold completes). Every pool version is a complete servable
    * assigned corpus; every verdicts version is that epoch's q89
    * report. */
  def runCatalogSemanticDedupSink(
      vecs: DataFrame,
      id: org.apache.spark.sql.Column,
      vec: org.apache.spark.sql.Column,
      centroidsDf: DataFrame,
      threshold: Double,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String,
      maxCell: Int = 65536): Unit =
    eachEpoch(vecs, checkpoint) { (batch, epoch) =>
      val poolStep = s"${step}_pool"
      val verdictStep = s"${step}_verdicts"
      val asg = graft.operators.SimilarityJoin
        .assignVectorsOnce(batch, id, vec, centroidsDf)
        .persist()
      if (!committed(cat, verdictStep, epoch)) {
        val fresh = asg.withColumn("is_new", lit(true))
        val assigned = cat.latestVersion(poolStep) match {
          case Some(_) =>
            cat.latest(poolStep).withColumn("is_new", lit(false))
              .unionByName(fresh)
          case None => fresh
        }
        cat.writeNext(verdictStep,
          graft.operators.SimilarityJoin.semanticDedupIncrementalAssigned(
            assigned, threshold, maxCell),
          epochTag = Some(epoch))
      }
      foldEpoch(cat, poolStep, asg, epoch,
        (base, freshPool) => base.unionByName(freshPool))
      asg.unpersist(blocking = false)
      ()
    }

  /** Streaming DEDUP BAND INDEX → catalog: q170's index-as-data pair
    * maintained by a stream. Each epoch's documents contribute their
    * (band, bsig, doc_id) band rows and (doc_id, hsh) hashed-shingle
    * verification rows ([[graft.operators.NearDup.minhashBandTable]] —
    * the exact q41/q80/q170 construction, so streamed state serves the
    * same probes), folded by UNION: dedup-index state is a growing
    * doc-keyed set (the q115 index-append discipline), so the atomic
    * epoch tag is the exactly-once guard — a replayed epoch would
    * duplicate its rows; the tag skips it. The two table writes are
    * individually guarded: a crash between them replays safely (the
    * committed bands fold is skipped, the shingle fold completes).
    * Every version is a complete servable index — q170's probe plan
    * reads any epoch's bands/shingles, and streamed history is never
    * re-tokenized. */
  def runCatalogDedupIndexSink(
      docs: DataFrame,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String): Unit =
    eachEpoch(docs, checkpoint) { (batch, epoch) =>
      val (base, banded) = graft.operators.NearDup.minhashBandTable(
        batch, col("doc_id"), col("text"))
      foldEpoch(cat, s"${step}_bands",
        banded.select(col("band"), col("bsig"), col("doc_id")), epoch,
        (b, f) => b.unionByName(f))
      foldEpoch(cat, s"${step}_shingles",
        base.select(col("doc_id"),
          array_distinct(transform(col("sh"),
            sh => graft.ext.TextDsl.hp(sh))).as("hsh")), epoch,
        (b, f) => b.unionByName(f))
    }

  /** STREAMING CLUSTER MAINTENANCE — q217/q218's contraction merge as a
    * catalog sink: each epoch appends its band + hashed-shingle rows
    * (the q170 serving state) and folds its DELTA EDGES into the
    * persisted cluster table by graph contraction
    * ([[graft.operators.Graph.mergeComponents]]) — the corpus is never
    * re-tokenized (the old side enters through the persisted
    * band/shingle tables) and never re-closed (CC work ∝ the epoch's
    * edges). Every near-dup pair is discovered exactly once — when its
    * LATER member arrives — so the union of epoch deltas is the full
    * pair set and the folded clusters equal a batch re-close of
    * everything streamed (the EventPipelinesSpec law).
    *
    * Exactly-once: the merge is not content-idempotent (re-merging an
    * epoch against the post-merge table would re-commit a version), so
    * all three writes ride the shared atomic epoch tag, individually
    * guarded, CLUSTERS FIRST: the fold must compute its edges against
    * the PRE-epoch band state, and guarding it first means a crash
    * replay sees exactly that state (the appends commit after, each
    * skipping if already tagged; a replay after the appends committed
    * would see its own batch in the probe side, which changes nothing —
    * the pair set is defined by least/greatest + distinct). */
  def runCatalogClusterSink(
      docs: DataFrame,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String): Unit =
    eachEpoch(docs, checkpoint) { (batch, epoch) =>
      foldClusterEpoch(cat, step, batch, epoch)
    }

  private[streaming] def foldClusterEpoch(
      cat: graft.catalog.VersionedCatalog, step: String,
      batch: DataFrame, epoch: Long): Unit = {
    import graft.operators.{Graph, NearDup}
    val T_ = org.apache.spark.sql.types.StructType.fromDDL _
    val bandSchema = T_("band INT, bsig STRING, doc_id BIGINT")
    val shSchema = T_("doc_id BIGINT, hsh ARRAY<BIGINT>")
    val clSchema = T_("node BIGINT, label BIGINT")
    val scope = new graft.CacheScope
    try {
      val (base, banded) = NearDup.minhashBandTable(
        batch, col("doc_id"), col("text"), scope = scope)
      val bandRows = scope.cache(
        banded.select(col("band"), col("bsig"), col("doc_id")))
      val shRows = scope.cache(base.select(col("doc_id"),
        array_distinct(transform(col("sh"),
          sh => graft.ext.TextDsl.hp(sh))).as("hsh")))
      val clStep = s"${step}_clusters"
      if (!committed(cat, clStep, epoch)) {
        // delta edges: batch × (persisted corpus ∪ batch) — the q170
        // probe join, verified by exact Jaccard over the hashed
        // shingle sets (both sides' arrays come from the same store,
        // so a ≈2⁻⁶⁰ hash collision hits both engines identically)
        val rhsBands = cat.latestVersion(s"${step}_bands")
          .map(v => cat.read(s"${step}_bands", v, Some(bandSchema))
            .unionByName(bandRows)).getOrElse(bandRows)
        val rhsSh = cat.latestVersion(s"${step}_shingles")
          .map(v => cat.read(s"${step}_shingles", v, Some(shSchema))
            .unionByName(shRows)).getOrElse(shRows)
        val cand = bandRows
          .select(col("band"), col("bsig"), col("doc_id").as("nid"))
          .join(rhsBands.select(col("band"), col("bsig"),
            col("doc_id").as("mid")), Seq("band", "bsig"))
          .filter(col("nid") =!= col("mid"))
          .select(least(col("nid"), col("mid")).as("a"),
            greatest(col("nid"), col("mid")).as("b"))
          .distinct()
        val inter = size(array_intersect(col("ha"), col("hb")))
        val edges = cand
          .join(rhsSh.select(col("doc_id").as("a"), col("hsh").as("ha")), "a")
          .join(rhsSh.select(col("doc_id").as("b"), col("hsh").as("hb")), "b")
          .filter(inter.cast("double") /
            (size(col("ha")) + size(col("hb")) - inter).cast("double") >= 0.5)
          .select(col("a"), col("b"))
        val next = cat.latestVersion(clStep) match {
          case None => Graph.connectedComponents(edges)
          case Some(v) => Graph.mergeComponents(
              cat.read(clStep, v, Some(clSchema)), edges)
            .select(col("node"), col("label"))
        }
        cat.writeNext(clStep, next, epochTag = Some(epoch))
      }
      // serving-state appends commit AFTER the fold (ordering note above)
      foldEpoch(cat, s"${step}_bands", bandRows, epoch,
        (b, f) => b.unionByName(f))
      foldEpoch(cat, s"${step}_shingles", shRows, epoch,
        (b, f) => b.unionByName(f))
    } finally scope.release()
  }

  /** STREAMING ANN-LSH INDEX — the q115/q170 append discipline for the
    * q192 multi-table LSH serving pair: each epoch's new vectors scale
    * map-side ([[graft.ext.Similarity.annScaled]] — the exact q187
    * definition, so streamed state serves identically to batch-built),
    * their (tbl, sig, vec_id) bucket rows append to `<step>_index` and
    * their scaled rows to `<step>_vectors` by unionByName. Append is
    * NOT content-idempotent — a replayed epoch would duplicate rows —
    * so both folds ride the shared atomic epoch tag, individually
    * guarded (a crash between them replays safely: the committed index
    * fold skips, the vector fold completes). Every version pair is
    * servable by q192's probe ([[graft.ext.Similarity.annServeTop3]]);
    * streamed history is never re-projected. Eleventh member of the
    * catalog-sink family. */
  def runCatalogAnnIndexSink(
      vectors: DataFrame,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String): Unit =
    eachEpoch(vectors, checkpoint) { (batch, epoch) =>
      val scaledB = graft.ext.Similarity.annScaled(batch)
      foldEpoch(cat, s"${step}_index",
        graft.ext.Similarity.annIndexRows(scaledB), epoch,
        (b, f) => b.unionByName(f))
      foldEpoch(cat, s"${step}_vectors", scaledB, epoch,
        (b, f) => b.unionByName(f))
    }

  /** Streaming CLASSIFIER → catalog: the first NON-FOLDABLE member of
    * the catalog-sink family — perceptron weights don't merge, they
    * WARM-START (the q147 law), so each epoch CONTINUES training from
    * the latest committed weights instead of folding a partial state.
    * The FIRST epoch bootstraps the full model artifact: label
    * thresholds + standardization stats from its own batch (committed
    * as `<step>_thr` / `<step>_stats` v1 — frozen thereafter, the
    * training-serving-skew rule) + weights trained from zero. Every
    * later epoch builds its batch's features UNDER the frozen v1
    * artifact, warm-starts from the newest `<step>_w` version, and
    * commits the continued weights as the next version — model time
    * travel for free (score under any epoch's weights via
    * [[graft.ext.Classifier.lastWeights]]).
    *
    * Exactly-once: training is neither idempotent nor foldable — a
    * replayed epoch would train TWICE on its batch — so every artifact
    * write is guarded per step by the shared atomic epoch tag; the
    * bootstrap's three writes are individually guarded, which makes a
    * crash BETWEEN them safe (the replay skips the committed ones and
    * completes the rest — the weights write, last, decides whether the
    * epoch "happened"). */
  def runCatalogClassifierSink(
      docs: DataFrame,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String,
      epochsPerBatch: Int = 5): Unit =
    eachEpoch(docs, checkpoint) { (batch, epoch) =>
      trainClassifierEpoch(cat, step, batch, epoch, epochsPerBatch)
    }

  private[streaming] def trainClassifierEpoch(
      cat: graft.catalog.VersionedCatalog, step: String,
      batch: DataFrame, epoch: Long, epochsPerBatch: Int): Unit = {
    import graft.ext.Classifier
    val wStep = s"${step}_w"
    if (committed(cat, wStep, epoch)) return
    val T_ = org.apache.spark.sql.types.StructType.fromDDL _
    val thrSchema = T_(Classifier.ThrSchemaDdl)
    val statsSchema = T_(Classifier.StatsSchemaDdl)
    val wSchema = T_(Classifier.WeightsSchemaDdl)
    val spark = batch.sparkSession
    val scope = new graft.CacheScope
    try {
      val tk = scope.cache(Classifier.tk3(batch))
      if (cat.latestVersion(wStep).isEmpty) {
        // bootstrap: thresholds + stats from the FIRST epoch's batch.
        // Degeneracy guard: an empty tk3 universe (no doc with >= 3
        // tokens) would commit NULL thresholds/stats as the FROZEN v1
        // artifact and permanently no-op all later training — skip
        // the epoch entirely and retry bootstrap on the next one.
        if (tk.isEmpty) return
        val scored = scope.cache(Classifier.scoredCb(tk))
        if (!committed(cat, s"${step}_thr", epoch))
          cat.writeNext(s"${step}_thr", Classifier.labelThresholds(scored),
            epochTag = Some(epoch))
        val raw = scope.cache(Classifier.rawFeaturesUnder(tk, scored,
          cat.read(s"${step}_thr", 1, Some(thrSchema))))
        if (!committed(cat, s"${step}_stats", epoch))
          cat.writeNext(s"${step}_stats", Classifier.featureStats(raw),
            epochTag = Some(epoch))
        val feat = scope.cache(Classifier.standardizeUnder(raw,
          cat.read(s"${step}_stats", 1, Some(statsSchema))).coalesce(4))
        cat.writeNext(wStep, Classifier.weightsDf(spark,
          Classifier.trainPerceptron(feat, epochsPerBatch)), epochTag = Some(epoch))
      } else {
        // continuation: features under the FROZEN v1 artifact,
        // warm-started from the newest weights
        val raw = scope.cache(Classifier.rawFeaturesUnder(tk,
          Classifier.scoredCb(tk),
          cat.read(s"${step}_thr", 1, Some(thrSchema))))
        val feat = scope.cache(Classifier.standardizeUnder(raw,
          cat.read(s"${step}_stats", 1, Some(statsSchema))).coalesce(4))
        val init = Classifier.lastWeights(cat.latest(wStep, Some(wSchema)))
        cat.writeNext(wStep, Classifier.weightsDf(spark,
          Classifier.trainPerceptronFrom(feat, epochsPerBatch, init)),
          epochTag = Some(epoch))
      }
    } finally scope.release()
  }

  /** Streaming HASHED classifier → catalog: the warm-start discipline
    * of [[runCatalogClassifierSink]] generalized from 6 driver longs
    * to the (j, w) WEIGHT TABLE (round-16 verdict item #3) — no driver
    * array exists at any point. The FIRST epoch bootstraps the frozen
    * artifact: quality-quartile thresholds from its own batch
    * (committed as `<step>_thr` v1 — the training-serving-skew rule;
    * the hashed model has no standardization stats, hashing needs no
    * fit) and the weight table trained from empty. Every later epoch
    * labels its batch UNDER the frozen v1 thresholds, warm-starts from
    * the newest `<step>_w` VERSION ([[graft.ext.HashedClassifier
    * .trainTransientFrom]] — the capstone's one-action-per-epoch
    * loop), and commits the continued table as the next version —
    * model time travel at table scale.
    *
    * Exactly-once: training is neither idempotent nor foldable, so
    * every artifact write is individually guarded by the atomic epoch
    * tag (a crash between the bootstrap's two writes replays safely —
    * the weights write, last, decides whether the epoch happened). */
  def runCatalogHashedClassifierSink(
      docs: DataFrame,
      checkpoint: String,
      cat: graft.catalog.VersionedCatalog,
      step: String,
      epochsPerBatch: Int = graft.ext.HashedClassifier.Epochs): Unit =
    eachEpoch(docs, checkpoint) { (batch, epoch) =>
      trainHashedEpoch(cat, step, batch, epoch, epochsPerBatch)
    }

  private[streaming] def trainHashedEpoch(
      cat: graft.catalog.VersionedCatalog, step: String,
      batch: DataFrame, epoch: Long, epochsPerBatch: Int): Unit = {
    import graft.ext.{Classifier, HashedClassifier => H}
    val wStep = s"${step}_w"
    if (committed(cat, wStep, epoch)) return
    val T_ = org.apache.spark.sql.types.StructType.fromDDL _
    val thrSchema = T_(H.ThrSchemaDdl)
    val wSchema = T_(H.WSchemaDdl)
    val spark = batch.sparkSession
    val scope = new graft.CacheScope
    try {
      val tk = scope.cache(Classifier.tk3(batch))
      if (cat.latestVersion(wStep).isEmpty) {
        // bootstrap — same degeneracy guard as the 6-feature sink: an
        // empty tk3 universe would freeze NULL thresholds forever
        if (tk.isEmpty) return
        val hq = scope.cache(H.qualityE4(tk))
        if (!committed(cat, s"${step}_thr", epoch))
          cat.writeNext(s"${step}_thr", H.qThresholds(hq), epochTag = Some(epoch))
        val lab = scope.cache(H.labelsUnder(hq,
          cat.read(s"${step}_thr", 1, Some(thrSchema))).coalesce(4))
        val occ = scope.cache(H.hashedOcc(tk).coalesce(8))
        cat.writeNext(wStep, H.trainTransientFrom(spark, occ, lab,
          spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            wSchema), epochsPerBatch), epochTag = Some(epoch))
      } else {
        // continuation: labels under the FROZEN v1 thresholds,
        // warm-started from the newest committed weight TABLE
        val hq = scope.cache(H.qualityE4(tk))
        val lab = scope.cache(H.labelsUnder(hq,
          cat.read(s"${step}_thr", 1, Some(thrSchema))).coalesce(4))
        val occ = scope.cache(H.hashedOcc(tk).coalesce(8))
        cat.writeNext(wStep, H.trainTransientFrom(spark, occ, lab,
          cat.latest(wStep, Some(wSchema)), epochsPerBatch), epochTag = Some(epoch))
      }
    } finally scope.release()
  }

  /** Batch views of the streaming transforms over the fixture table —
    * the unified-API property: identical code, batch source. */
  def eventsBatch(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
}
