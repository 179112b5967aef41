package graft.streaming

import graft.SparkSpec
import graft.streaming.EventPipelines._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}

import java.sql.Timestamp

class EventPipelinesSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s"2024-01-01 $s")

  /** Clone a checkpoint to `dst` as a crashed process would have left
    * it: everything copied, but epoch `batchId`'s commit marker (and
    * its Hadoop CRC shadow — an orphaned checksum makes the local FS
    * reject the replayed write) never written. A fresh path sidesteps
    * Spark's same-JVM concurrent-checkpoint-use guard. */
  private def cloneCheckpointWithoutCommit(
      ckpt: String, dst: String, batchId: Long): Unit = {
    val src = java.nio.file.Paths.get(ckpt)
    val walk = java.nio.file.Files.walk(src)
    try {
      walk.forEach { p =>
        val t = java.nio.file.Paths.get(dst).resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      }
    } finally walk.close()
    val commit = java.nio.file.Paths.get(s"$dst/commits/$batchId")
    assert(java.nio.file.Files.exists(commit), "test setup: no commit marker")
    java.nio.file.Files.delete(commit)
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$dst/commits/.$batchId.crc"))
  }
  private def ev(id: Long, t: String, uid: Long = 1L, typ: String = "click",
      v: Double = 1.0): Event = Event(id, ts(t), uid, typ, v, "{}")

  test("tumbling window with watermark: closed windows emit, late data dropped") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = tumblingCounts(ms.toDF())
      .writeStream.format("memory").queryName("tumbling")
      .outputMode("append").start()
    try {
      // window [00:00, 00:10): two events
      ms.addData(ev(1, "00:01:00"), ev(2, "00:05:00"))
      q.processAllAvailable()
      // advance event time to 00:30 -> watermark 00:25 after this batch
      ms.addData(ev(3, "00:30:00"))
      q.processAllAvailable()
      // next batch: close [00:00,00:10) and try to sneak in a late event
      ms.addData(ev(4, "00:31:00"), ev(99, "00:02:00"))
      q.processAllAvailable()
      val rows = spark.table("tumbling")
        .select("window_start", "n").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1))).toMap
      // the 00:00 window emitted exactly the 2 on-time events; the late
      // event 99 (beyond the 00:25 watermark) was dropped
      assert(rows(ts("00:00:00")) == 2L)
    } finally q.stop()
  }

  test("session windows: 5-minute gap splits user activity into sessions") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = sessionAgg(ms.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try {
      // user 1: burst at 00:00-00:04 (one session), solo event at 00:20
      ms.addData(ev(1, "00:00:00"), ev(2, "00:02:00"), ev(3, "00:04:00"),
        ev(4, "00:20:00"))
      q.processAllAvailable()
      // advance watermark far past both sessions, then one more batch to emit
      ms.addData(ev(5, "01:00:00", uid = 2))
      q.processAllAvailable()
      ms.addData(ev(6, "01:10:00", uid = 2))
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select("user_id", "n_events").collect()
        .filter(_.getLong(0) == 1L).map(_.getLong(1)).sorted
      assert(rows.toSeq == Seq(1L, 3L)) // the burst session and the solo session
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: repeated event_ids emit once") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = dedupWithinWatermark(ms.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode("append").start()
    try {
      ms.addData(ev(1, "00:01:00"), ev(2, "00:02:00"))
      q.processAllAvailable()
      ms.addData(ev(1, "00:03:00"), ev(3, "00:04:00")) // id 1 is a duplicate
      q.processAllAvailable()
      val ids = spark.table("dedup").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("flatMapGroupsWithState: running per-user totals across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = runningPerUser(ms.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode("update").start()
    try {
      ms.addData(ev(1, "00:01:00", uid = 7, v = 2.0), ev(2, "00:02:00", uid = 7, v = 3.0))
      q.processAllAvailable()
      ms.addData(ev(3, "00:03:00", uid = 7, v = 5.0))
      q.processAllAvailable()
      val last = spark.table("running")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter(_._1 == 7L).maxBy(_._2)
      assert(last == ((7L, 3L, 10.0))) // state carried across batches
    } finally q.stop()
  }

  test("transformWithState: running totals via the named-state API (RocksDB)") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[Event]
    val q = runningPerUserTws(ms.toDS())
      .writeStream.format("memory").queryName("running_tws")
      .outputMode("update").start()
    try {
      ms.addData(ev(1, "00:01:00", uid = 5, v = 1.5), ev(2, "00:02:00", uid = 5, v = 2.5))
      q.processAllAvailable()
      ms.addData(ev(3, "00:03:00", uid = 5, v = 6.0))
      q.processAllAvailable()
      val last = spark.table("running_tws")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .filter(_._1 == 5L).maxBy(_._2)
      assert(last == ((5L, 3L, 10.0)))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-stream interval join matches purchases to preceding clicks per user") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = clickToPurchase(ms.toDF())
      .select("click_id", "purchase_id")
      .writeStream.format("memory").queryName("ssj")
      .outputMode("append").start()
    try {
      ms.addData(
        ev(1, "00:00:00", uid = 1, typ = "click"),
        ev(2, "00:30:00", uid = 1, typ = "purchase", v = 9.99), // within 1h of click 1
        ev(3, "02:00:00", uid = 1, typ = "purchase"), // too late for click 1
        ev(4, "00:10:00", uid = 2, typ = "purchase")) // other user, no click
      q.processAllAvailable()
      val pairs = spark.table("ssj").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(pairs.toSeq == Seq((1L, 2L)))
    } finally q.stop()
  }

  test("AvailableNow + checkpoint: rerun resumes after last committed batch (ST1)") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val out = s"$dir/out"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeInput(name: String, ids: Seq[Long]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          ids.map(i => s"""{"event_id":$i,"user_id":1}""").mkString("\n").getBytes)

      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)

      writeInput("batch1.json", Seq(1, 2, 3))
      runAvailableNow(stream, ckpt, out)
      val afterFirst = spark.read.schema(schema).json(out).count()
      assert(afterFirst == 3)

      // second run with MORE input: only the new file is processed —
      // the offset log is the LastSuccessfullyProcessedIndex analog
      writeInput("batch2.json", Seq(4, 5))
      runAvailableNow(stream, ckpt, out)
      val ids = spark.read.schema(schema).json(out)
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L, 4L, 5L)) // no reprocessing, no loss
    }
  }

  test("event-time timer sessionization: session emits when the watermark passes the gap") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[Event]
    val q = sessionsByTimer(ms.toDS(), gapMs = 5 * 60 * 1000L)
      .writeStream.format("memory").queryName("timer_sessions")
      .outputMode("append").start()
    try {
      // uid 1: two events 00:00-00:02 → session closes at 00:07 event time
      ms.addData(ev(1, "00:00:00", uid = 1), ev(2, "00:02:00", uid = 1))
      q.processAllAvailable()
      // advance the watermark far past the timer (00:30 - 10m wm = 00:20)
      ms.addData(ev(3, "00:30:00", uid = 2))
      q.processAllAvailable()
      ms.addData(ev(4, "00:31:00", uid = 2)) // one more batch so timers fire
      q.processAllAvailable()
      val rows = spark.table("timer_sessions")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      val s1 = rows.filter(_._1 == 1L)
      assert(s1.length == 1)
      assert(s1.head._2 == ts("00:00:00") && s1.head._3 == ts("00:02:00")
        && s1.head._4 == 2L)
      // uid 2's session is still open (watermark hasn't passed its gap)
      assert(!rows.exists(_._1 == 2L))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("timer sessionization: two bursts hours apart in ONE batch stay two sessions") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val ms = MemoryStream[Event]
    val q = sessionsByTimer(ms.toDS(), gapMs = 5 * 60 * 1000L)
      .writeStream.format("memory").queryName("timer_sessions_split")
      .outputMode("append").start()
    try {
      // uid 1: one microbatch carrying two bursts 3 hours apart (the
      // AvailableNow-backlog shape) — out of order within the batch too.
      // uid 9: two events EXACTLY gap apart — session_window is
      // half-open [start, end+gap), so these must stay two sessions.
      ms.addData(ev(2, "00:02:00", uid = 1), ev(1, "00:00:00", uid = 1),
        ev(3, "03:00:00", uid = 1), ev(4, "03:01:00", uid = 1),
        ev(7, "00:00:00", uid = 9), ev(8, "00:05:00", uid = 9))
      q.processAllAvailable()
      // advance the watermark past both gap horizons, then one more
      // batch so the re-armed timer fires for the second session
      ms.addData(ev(5, "06:00:00", uid = 2))
      q.processAllAvailable()
      ms.addData(ev(6, "06:01:00", uid = 2))
      q.processAllAvailable()
      val all = spark.table("timer_sessions_split").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      val rows = all.filter(_._1 == 1L).sortBy(_._2.getTime)
      assert(rows.length == 2, s"expected 2 sessions, got: ${rows.toSeq}")
      assert(rows(0) == ((1L, ts("00:00:00"), ts("00:02:00"), 2L)))
      assert(rows(1) == ((1L, ts("03:00:00"), ts("03:01:00"), 2L)))
      // the exactly-gap-apart pair did NOT merge (strict half-open merge)
      val u9 = all.filter(_._1 == 9L).sortBy(_._2.getTime)
      assert(u9.length == 2, s"expected 2 boundary sessions, got: ${u9.toSeq}")
      assert(u9.forall(_._4 == 1L))
    } finally {
      q.stop()
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-static join: stream rows enriched against a static dim") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val ms = MemoryStream[Event]
    val q = ms.toDF().join(dim, "user_id") // static side re-read per epoch
      .select("event_id", "tier")
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      ms.addData(ev(1, "00:01:00", uid = 1), ev(2, "00:02:00", uid = 2),
        ev(3, "00:03:00", uid = 9)) // uid 9: no dim row, dropped (inner)
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted
      assert(rows.toSeq == Seq((1L, "gold"), (2L, "basic")))
    } finally q.stop()
  }

  test("streaming count-min: fixed D x W state over unbounded items; equals the batch sketch") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Event]
    val q = EventPipelines.countMinCells(ms.toDF(), col("event_type"))
      .writeStream.format("memory").queryName("cms_stream")
      .outputMode("complete").start()
    try {
      // batch 1: a burst of clicks + views
      ms.addData(ev(1, "00:01:00", typ = "click"), ev(2, "00:02:00", typ = "view"),
        ev(3, "00:03:00", typ = "click"))
      q.processAllAvailable()
      // batch 2: new item kinds arrive — state stays D x W cells
      ms.addData(ev(4, "00:04:00", typ = "purchase"), ev(5, "00:05:00", typ = "click"),
        ev(6, "00:06:00", typ = "refund"))
      q.processAllAvailable()
      val streamed = spark.table("cms_stream").collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      // fixed-size-state property: never more than D x W cells
      assert(streamed.size <= 4 * 64)
      // unified-API property: the streamed sketch IS the batch sketch
      // over the same rows (same cell placement, same counts)
      val batch = EventPipelines.countMinCells(
          Seq("click", "view", "click", "purchase", "click", "refund")
            .toDF("event_type"), col("event_type"))
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch)
      // every item's estimate dominates its true stream count
      val trueCnt = Map("click" -> 3L, "view" -> 1L, "purchase" -> 1L, "refund" -> 1L)
      trueCnt.foreach { case (t, n) =>
        val est = (0 until 4).map { d =>
          val w = Seq(t).toDF("x").select(graft.ext.CountMin.cellCol(
            lit(d), col("x")).as("w")).head().getLong(0)
          streamed((d, w))
        }.min
        assert(est >= n, s"CMS stream underestimated $t")
      }
    } finally q.stop()
  }

  test("foldSketchEpoch: replaying a committed epoch adds nothing (atomic epoch tag)") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val cat = new graft.catalog.VersionedCatalog(spark, s"$dir/cat", format = "parquet")
      def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val cells1 = EventPipelines.countMinCells(
        Seq("a", "b", "a").toDF("t"), col("t"))
      EventPipelines.foldSketchEpoch(cat, "cms", cells1, epoch = 0L)
      assert(cat.latestVersion("cms").contains(1))
      assert(cat.versionEpochTag("cms", 1).contains(0L))
      val v1 = toMap(cat.latest("cms"))
      // the crash-replay window the old sidecar marker left open: the
      // version committed but the stream replays the same epoch — the
      // tag rode the promote rename, so the fold must SKIP: an additive
      // sketch is not content-idempotent and a re-fold would double the
      // epoch's counts in every later version
      EventPipelines.foldSketchEpoch(cat, "cms", cells1, epoch = 0L)
      assert(cat.latestVersion("cms").contains(1), "replay created a version")
      assert(toMap(cat.latest("cms")) == v1, "replay double-added the epoch")
      // the next epoch folds normally on top
      EventPipelines.foldSketchEpoch(cat, "cms",
        EventPipelines.countMinCells(Seq("b").toDF("t"), col("t")), epoch = 1L)
      assert(cat.latestVersion("cms").contains(2))
      assert(cat.versionEpochTag("cms", 2).contains(1L))
      // compaction interleaved between a fold and the stream's
      // checkpoint commit: the rewritten version CARRIES the epoch tag
      // (VersionedCatalog.compact), so a replay of the just-folded
      // epoch still skips — without the carry, the replay would see an
      // untagged latest version and double-add
      cat.compact("cms")
      assert(cat.latestVersion("cms").contains(3))
      assert(cat.versionEpochTag("cms", 3).contains(1L), "compaction dropped the epoch tag")
      val v3 = toMap(cat.latest("cms"))
      EventPipelines.foldSketchEpoch(cat, "cms",
        EventPipelines.countMinCells(Seq("b").toDF("t"), col("t")), epoch = 1L)
      assert(cat.latestVersion("cms").contains(3), "replay after compaction created a version")
      assert(toMap(cat.latest("cms")) == v3, "replay after compaction double-added")
    }
  }

  test("streaming sketch -> catalog serving loop: epochs fold to the batch sketch over the union") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeInput(name: String, toks: Seq[String]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          toks.map(t => s"""{"token":"$t"}""").mkString("\n").getBytes)
      val schema = org.apache.spark.sql.types.StructType.fromDDL("token STRING")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      // parquet keeps the int32 d / int64 cell cells bit-exact across
      // versions (the JSONL default would widen ints on reload)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")

      val e1 = Seq("click", "view", "click")
      val e2 = Seq("purchase", "click", "refund", "view")
      writeInput("epoch1.json", e1)
      EventPipelines.runCatalogSketchSink(stream, col("token"), ckpt, cat, "cms")
      assert(cat.latestVersion("cms").contains(1))
      writeInput("epoch2.json", e2)
      EventPipelines.runCatalogSketchSink(stream, col("token"), ckpt, cat, "cms")
      assert(cat.latestVersion("cms").contains(2))

      def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

      // the catalog's latest version IS the batch sketch over the union
      // — CMS linearity end to end through persisted epoch folds
      val served = toMap(cat.latest("cms"))
      val batch = toMap(EventPipelines.countMinCells(
        (e1 ++ e2).toDF("token"), col("token")))
      assert(served == batch)
      // ... and v1 is the servable epoch-1 sketch on its own
      assert(toMap(cat.read("cms", 1)) ==
        toMap(EventPipelines.countMinCells(e1.toDF("token"), col("token"))))

      // q103-style heavy-hitter serving from the merged streamed sketch
      val trueCnt = (e1 ++ e2).groupBy(identity).view.mapValues(_.size.toLong)
      trueCnt.foreach { case (t, n) =>
        val est = (0 until graft.ext.CountMin.dRows).map { d =>
          val w = Seq(t).toDF("x")
            .select(graft.ext.CountMin.cellCol(lit(d), col("x")).as("w"))
            .head().getLong(0)
          served.getOrElse((d, w), 0L)
        }.min
        assert(est >= n, s"merged streamed sketch underestimated $t")
      }

      // replay safety: a rerun with no new input adds no version
      EventPipelines.runCatalogSketchSink(stream, col("token"), ckpt, cat, "cms")
      assert(cat.latestVersion("cms").contains(2))
    }
  }

  test("streaming sink retention: retain=2 over 5 epochs keeps exactly the last 2 servable versions") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeInput(name: String, items: Seq[String]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          items.map(t => s"""{"token":"$t"}""").mkString("\n").getBytes)
      val schema = org.apache.spark.sql.types.StructType.fromDDL("token STRING")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap

      val epochs = (1 to 5).map(e => (0 until e).map(i => s"tok-$e-$i"))
      // one run per epoch file: version ↔ epoch pairing is then
      // deterministic (several pending files in one AvailableNow run
      // can fold in either order — unions commute, but the v4 ==
      // first-four-epochs check below would not)
      epochs.take(3).zipWithIndex.foreach { case (e, i) =>
        writeInput(s"e$i.json", e)
        EventPipelines.runCatalogSketchSink(
          stream, col("token"), ckpt, cat, "cmsr", retain = Some(2))
      }
      assert(cat.versions("cmsr") == Seq(2, 3),
        s"after 3 epochs with retain=2: ${cat.versions("cmsr")}")
      epochs.drop(3).zipWithIndex.foreach { case (e, i) =>
        writeInput(s"l$i.json", e)
        EventPipelines.runCatalogSketchSink(
          stream, col("token"), ckpt, cat, "cmsr", retain = Some(2))
      }
      // exactly the last 2 versions remain on disk
      assert(cat.versions("cmsr") == Seq(4, 5))
      // ... and both are complete servable folds: latest equals the
      // batch sketch over ALL five epochs (nothing was lost to vacuum),
      // v4 equals the batch sketch over the first four
      val all = epochs.flatten
      assert(toMap(cat.latest("cmsr")) == toMap(EventPipelines.countMinCells(
        all.toDF("token"), col("token"))))
      assert(toMap(cat.read("cmsr", 4)) == toMap(EventPipelines.countMinCells(
        epochs.take(4).flatten.toDF("token"), col("token"))))
      // replay with no new input: adds nothing, vacuums nothing (the
      // epoch-tag guard skips before the retention branch)
      EventPipelines.runCatalogSketchSink(
        stream, col("token"), ckpt, cat, "cmsr", retain = Some(2))
      assert(cat.versions("cmsr") == Seq(4, 5))
      assert(toMap(cat.latest("cmsr")) == toMap(EventPipelines.countMinCells(
        all.toDF("token"), col("token"))))
    }
  }

  test("streaming ANN-LSH index -> catalog: streamed epochs serve identically to batch-built") {
    val s = spark
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select(col("vec_id"), col("embedding"))
      val rows = emb.collect() // 500-row fixture: bounded test input
      // (double)float widening is exact and Double.toString round-trips,
      // so the streamed JSON parses to the SAME doubles scaledVec sees
      // when it widens the batch side's floats
      def json(r: org.apache.spark.sql.Row) =
        s"""{"vec_id":${r.getLong(0)},"embedding":[${
          r.getSeq[Float](1).map(_.toDouble.toString).mkString(",")}]}"""
      def writeInput(name: String, rs: Seq[org.apache.spark.sql.Row]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          rs.map(json).mkString("\n").getBytes)
      writeInput("e1.json", rows.filter(_.getLong(0) % 2 == 0).toSeq)
      writeInput("e2.json", rows.filter(_.getLong(0) % 2 == 1).toSeq)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<DOUBLE>")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      EventPipelines.runCatalogAnnIndexSink(stream, ckpt, cat, "ann")
      assert(cat.latestVersion("ann_index").contains(2))
      assert(cat.latestVersion("ann_vectors").contains(2))

      val vSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, v ARRAY<BIGINT>, n2 BIGINT")
      val iSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "nid BIGINT, tbl INT, sig BIGINT")
      val vecs = cat.read("ann_vectors", 2, Some(vSchema))
      val idx = cat.read("ann_index", 2, Some(iSchema))
      // streamed index rows == the batch construction over the union
      val batchScaled = graft.ext.Similarity.annScaled(emb)
      def iSet(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(iSet(idx) == iSet(graft.ext.Similarity.annIndexRows(batchScaled)))
      // ... and the streamed state SERVES identically: q192's probe
      // over the streamed pair equals the probe over batch state
      def top3(vs: org.apache.spark.sql.DataFrame, ix: org.apache.spark.sql.DataFrame) =
        graft.ext.Similarity.annServeTop3(vs, ix).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(top3(vecs, idx) ==
        top3(batchScaled, graft.ext.Similarity.annIndexRows(batchScaled)))
      // replay with no new input: adds nothing on either table
      EventPipelines.runCatalogAnnIndexSink(stream, ckpt, cat, "ann")
      assert(cat.latestVersion("ann_index").contains(2))
      assert(cat.latestVersion("ann_vectors").contains(2))
    }
  }

  test("streaming HLL -> catalog: epoch registers MAX-fold to the batch sketch over the union") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeInput(name: String, items: Seq[String]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          items.map(t => s"""{"item":"$t"}""").mkString("\n").getBytes)
      val schema = org.apache.spark.sql.types.StructType.fromDDL("item STRING")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap

      val e1 = (0 until 40).map(i => s"item-a-$i")
      val e2 = (20 until 60).map(i => s"item-a-$i") ++ Seq("item-b-1")
      writeInput("e1.json", e1)
      EventPipelines.runCatalogRegisterSink(stream, col("item"), ckpt, cat, "hll")
      assert(cat.latestVersion("hll").contains(1))
      writeInput("e2.json", e2)
      EventPipelines.runCatalogRegisterSink(stream, col("item"), ckpt, cat, "hll")
      assert(cat.latestVersion("hll").contains(2))
      // the catalog's latest = the batch register table over the UNION
      // (overlapping epochs: MAX absorbs the 20 re-sent items exactly)
      val served = toMap(cat.latest("hll"))
      val batch = toMap(graft.ext.Hll.registerCells(
        (e1 ++ e2).toDF("item"), col("item")))
      assert(served == batch && served.size == 256)
      // replay with no new input: no new version (epoch-tag skip)
      EventPipelines.runCatalogRegisterSink(stream, col("item"), ckpt, cat, "hll")
      assert(cat.latestVersion("hll").contains(2))
    }
  }

  test("streaming histogram -> catalog: epoch bins SUM-fold to the batch sketch over the union") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeInput(name: String, vals: Seq[Double]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          vals.map(v => s"""{"value":$v}""").mkString("\n").getBytes)
      val schema = org.apache.spark.sql.types.StructType.fromDDL("value DOUBLE")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap

      // epoch values straddle several bins, repeat across epochs (counts
      // ADD, unlike HLL's MAX), and include an out-of-range clamp case
      val e1 = Seq(1.0, 2.6, 2.6, 100.0)
      val e2 = Seq(2.6, 650.0, -3.0, 100.0)
      writeInput("e1.json", e1)
      EventPipelines.runCatalogHistogramSink(stream, col("value"), ckpt, cat, "hist")
      assert(cat.latestVersion("hist").contains(1))
      writeInput("e2.json", e2)
      EventPipelines.runCatalogHistogramSink(stream, col("value"), ckpt, cat, "hist")
      assert(cat.latestVersion("hist").contains(2))
      // the catalog's latest = the batch bin table over the union —
      // histogram linearity end to end through persisted epoch folds
      val served = toMap(cat.latest("hist"))
      val batch = toMap(graft.ext.HistSketch.binCells(
        (e1 ++ e2).toDF("value"), col("value")))
      assert(served == batch && served.size == 256)
      // the duplicated 2.6s summed across epochs (bin 1 = [2.5, 5.0))
      assert(served(1L) == 3L)
      // clamp bins absorbed the out-of-range values (650 → top, -3 → 0
      // next to the 1.0); total mass preserved exactly
      assert(served(255L) == 1L && served(0L) == 2L)
      assert(served.values.sum == (e1 ++ e2).size.toLong)
      // replay with no new input: no new version (epoch-tag skip — the
      // additive fold's exactly-once depends on it)
      EventPipelines.runCatalogHistogramSink(stream, col("value"), ckpt, cat, "hist")
      assert(cat.latestVersion("hist").contains(2))
    }
  }

  test("streaming LM -> catalog: epoch bigram counts SUM-fold, vocab union-folds, scoring serves per version") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeInput(name: String, docs: Seq[(Long, String)]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          docs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
            .mkString("\n").getBytes)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      val bgSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "bg STRING, cb BIGINT")
      val vSchema = org.apache.spark.sql.types.StructType.fromDDL("t STRING")

      val e1 = Seq((1L, "a b a b"), (2L, "b c"))
      val e2 = Seq((3L, "a b d"), (4L, "c a b"))
      writeInput("e1.json", e1)
      EventPipelines.runCatalogLmSink(stream, ckpt, cat, "lm")
      assert(cat.latestVersion("lm_bg").contains(1))
      assert(cat.latestVersion("lm_vocab").contains(1))
      writeInput("e2.json", e2)
      EventPipelines.runCatalogLmSink(stream, ckpt, cat, "lm")
      assert(cat.latestVersion("lm_bg").contains(2))

      def cnts(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // latest = the batch LM over the union (count linearity)
      val both = (e1 ++ e2).toDF("doc_id", "text")
      assert(cnts(cat.latest("lm_bg", Some(bgSchema))) ==
        cnts(graft.ext.LmScore.bigramCounts(both)))
      // v1 = epoch 1's LM forever (LM time travel)
      assert(cnts(cat.read("lm_bg", 1, Some(bgSchema))) ==
        cnts(graft.ext.LmScore.bigramCounts(e1.toDF("doc_id", "text"))))
      // vocab union-folded
      assert(cat.latest("lm_vocab", Some(vSchema)).collect().map(_.getString(0))
        .toSet == Set("a", "b", "c", "d"))
      // serving through the persisted state == a fresh fit (the q122 law)
      val probe = Seq((9L, "a b c")).toDF("doc_id", "text")
      val viaCat = graft.ext.LmScore.scoreAgainstLm(
          cat.latest("lm_bg", Some(bgSchema)),
          cat.latest("lm_vocab", Some(vSchema)), probe)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      val viaFit = graft.ext.LmScore.surpriseScores(both, probe)
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      assert(viaCat == viaFit)
      // replay with no new input: no new version on either step (the
      // additive bigram fold's exactly-once rides the epoch tag)
      EventPipelines.runCatalogLmSink(stream, ckpt, cat, "lm")
      assert(cat.latestVersion("lm_bg").contains(2))
      assert(cat.latestVersion("lm_vocab").contains(2))
    }
  }

  test("streaming BPE sink: word counts fold, training serves any version, replay-safe") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeInput(name: String, docs: Seq[(Long, String)]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          docs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
            .mkString("\n").getBytes)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      val wcSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "w STRING, c BIGINT")

      val e1 = Seq((1L, "lower lower lowest newer"), (2L, "newest lowest wider"))
      val e2 = Seq((3L, "newer newer widest lower"), (4L, "low new lowest"))
      writeInput("e1.json", e1)
      EventPipelines.runCatalogBpeSink(stream, ckpt, cat, "bpe")
      assert(cat.latestVersion("bpe_wc").contains(1))
      writeInput("e2.json", e2)
      EventPipelines.runCatalogBpeSink(stream, ckpt, cat, "bpe")
      assert(cat.latestVersion("bpe_wc").contains(2))

      def cnts(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val both = (e1 ++ e2).toDF("doc_id", "text")
      // latest = the batch word counts over the union (count linearity)
      assert(cnts(cat.latest("bpe_wc", Some(wcSchema))) ==
        cnts(graft.ext.Bpe.wordCounts(both)))
      // v1 = epoch 1's counts forever (tokenizer time travel)
      assert(cnts(cat.read("bpe_wc", 1, Some(wcSchema))) ==
        cnts(graft.ext.Bpe.wordCounts(e1.toDF("doc_id", "text"))))
      // training from the served state == a fresh batch train (q135 law)
      assert(graft.ext.Bpe.trainMergesFromCounts(
          cat.latest("bpe_wc", Some(wcSchema)), rounds = 8) ==
        graft.ext.Bpe.trainMerges(both, rounds = 8))
      // replay with no new input: no new version (exactly-once via tag)
      EventPipelines.runCatalogBpeSink(stream, ckpt, cat, "bpe")
      assert(cat.latestVersion("bpe_wc").contains(2))
    }
  }

  test("streaming index append: epochs assign through persisted centroids, replay-safe") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeInput(name: String, vecs: Seq[(Long, Seq[Double])]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          vecs.map { case (id, v) =>
            s"""{"vec_id":$id,"embedding":[${v.mkString(",")}]}"""
          }.mkString("\n").getBytes)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<DOUBLE>")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      val cents = graft.operators.SimilarityJoin.md5CentroidTable(
        spark, nCells = 4, dim = 4)
      def mkVec(id: Long) = Seq.tabulate(4)(d => ((id * 7 + d * 3) % 11) / 10.0 - 0.5)
      val e1 = (0L until 4L).map(i => i -> mkVec(i))
      val e2 = (4L until 8L).map(i => i -> mkVec(i))
      def run(): Unit = EventPipelines.runCatalogIndexAppendSink(
        stream, col("vec_id"), col("embedding"), cents, ckpt, cat, "asg")
      def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap

      writeInput("e1.json", e1); run()
      assert(cat.latestVersion("asg").contains(1))
      writeInput("e2.json", e2); run()
      assert(cat.latestVersion("asg").contains(2))
      // the streamed index ≡ one batch assignment over the union —
      // and v1 alone is exactly epoch 1's assignment (time travel over
      // index history)
      val batchAll = toMap(graft.operators.SimilarityJoin.ivfAssignTable(
        (e1 ++ e2).toDF("vec_id", "embedding"),
        col("vec_id"), col("embedding"), cents))
      assert(toMap(cat.latest("asg")) == batchAll && batchAll.size == 8)
      assert(toMap(cat.read("asg", 1)) ==
        toMap(graft.operators.SimilarityJoin.ivfAssignTable(
          e1.toDF("vec_id", "embedding"), col("vec_id"), col("embedding"), cents)))
      // replay with no new input: the epoch-tag guard blocks the
      // non-idempotent append — no new version, no duplicated rows
      run()
      assert(cat.latestVersion("asg").contains(2))
      assert(cat.latest("asg").count() == 8L)
    }
  }

  test("streaming exact dedup: first arrival survives, later duplicates drop, state watermark-bounded") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeInput(name: String, rows: Seq[(String, String, Int)]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          rows.map { case (ts, k, v) =>
            s"""{"ts":"$ts","k":"$k","v":$v}"""
          }.mkString("\n").getBytes)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "ts TIMESTAMP, k STRING, v INT")
      // collected through foreachBatch (the memory sink cannot recover
      // from a checkpoint, and run-2's dedup state MUST come from the
      // checkpoint for the cross-run drop to mean anything)
      val got = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
      def run(): Unit = {
        val deduped = EventPipelines.streamingExactDedup(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(in),
          key = col("k"), eventTime = "ts", delay = "10 minutes")
        val q = deduped.writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            got ++= batch.collect().map(r => r.getString(1) -> r.getInt(2))
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // run 1: an in-batch duplicate of a (single file, single
      // partition — first line reaches the state store first)
      writeInput("e1.json", Seq(
        ("2024-01-01T10:00:00Z", "a", 1),
        ("2024-01-01T10:00:10Z", "a", 2),
        ("2024-01-01T10:00:05Z", "b", 3)))
      run()
      assert(got.toMap == Map("a" -> 1, "b" -> 3) && got.size == 2)
      // run 2: a replays within the watermark delay — dropped against
      // CHECKPOINTED state; the new key passes
      writeInput("e2.json", Seq(
        ("2024-01-01T10:01:00Z", "a", 4),
        ("2024-01-01T10:02:00Z", "c", 5)))
      run()
      assert(got.toMap == Map("a" -> 1, "b" -> 3, "c" -> 5) && got.size == 3)
    }
  }

  test("AvailableNow + watermark: beyond-watermark events drop, with progress accounting") {
    // the end-to-end late-data contract of the checkpointed pipeline:
    // run 1 advances the event-time watermark (persisted in the commit
    // log), run 2 injects an out-of-order event BEYOND it — the row
    // must be dropped (never reaches the sink's aggregates) AND the
    // drop must be visible in the query's progress accounting, not
    // silent
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val out = s"$dir/out"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeInput(name: String, rows: Seq[(Long, String)]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          rows.map { case (i, t) =>
            s"""{"event_id":$i,"ts":"2024-01-01T$t:00.000Z","event_type":"click","value":1.0}"""
          }.mkString("\n").getBytes)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE")
      def stream = EventPipelines.tumblingCounts(
        spark.readStream.schema(schema).json(in))

      // run 1: two events in the 00:00 window + one at 00:30 that
      // moves the watermark to 00:25 when the run commits
      writeInput("b1.json", Seq(1L -> "00:01", 2L -> "00:02", 3L -> "00:30"))
      EventPipelines.runAvailableNow(stream, ckpt, out)

      // run 2: event 99 at 00:05 is beyond the persisted watermark —
      // dropped; event 4 at 00:40 is on time and advances the clock
      writeInput("b2.json", Seq(99L -> "00:05", 4L -> "00:40"))
      val q2 = EventPipelines.runAvailableNow(stream, ckpt, out)
      val dropped = q2.recentProgress
        .flatMap(p => p.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped == 1L, s"expected 1 watermark-dropped row, saw $dropped")

      val sink = spark.read.schema(org.apache.spark.sql.types.StructType.fromDDL(
          "window_start TIMESTAMP, event_type STRING, n BIGINT, total_value DOUBLE"))
        .json(out).collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(2)))
      // the 00:00 window closed with exactly its two ON-TIME events —
      // the late event altered nothing, and no window emitted twice
      assert(sink.count(_._1.startsWith("2024-01-01 00:00")) == 1)
      assert(sink.find(_._1.startsWith("2024-01-01 00:00")).get._2 == 2L)
    }
  }

  test("catalog sink: crash between catalog commit and offset commit doesn't duplicate") {
    // simulate the exact failure window the sink's idempotence note
    // promises to survive: the catalog version committed but the
    // checkpoint's epoch commit marker was never written (crash between
    // the two). On rerun the epoch REPLAYS; the sink must find its
    // version already present and skip — same catalog state, no v2 of
    // the same data
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/a.json"),
        Seq(1L, 2L).map(i => s"""{"event_id":$i,"user_id":1}""")
          .mkString("\n").getBytes)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT")
      def stream = spark.readStream.schema(schema).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root)

      EventPipelines.runCatalogSink(stream, ckpt, cat, "events")
      assert(cat.versions("events") == Seq(1))

      // crash simulation: offsets/0 written, commits/0 never written —
      // the failure window between the catalog commit and the epoch
      // commit marker
      val ckpt2 = s"$dir/ckpt-crashed"
      cloneCheckpointWithoutCommit(ckpt, ckpt2, 0L)

      EventPipelines.runCatalogSink(stream, ckpt2, cat, "events")
      assert(cat.versions("events") == Seq(1),
        "replayed epoch must skip its already-committed version")
      val rows = cat.latest("events", Some(schema))
        .collect().map(_.getLong(0)).sorted
      assert(rows.toSeq == Seq(1L, 2L)) // content intact, exactly once
    }
  }

  test("catalog sink: each epoch commits as an immutable version; reruns don't duplicate") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeInput(name: String, ids: Seq[Long]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          ids.map(i => s"""{"event_id":$i,"user_id":1}""").mkString("\n").getBytes)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in) // one file = one epoch
      val cat = new graft.catalog.VersionedCatalog(spark, root)

      writeInput("a.json", Seq(1, 2))
      writeInput("b.json", Seq(3))
      EventPipelines.runCatalogSink(stream, ckpt, cat, "events")
      assert(cat.versions("events") == Seq(1, 2))

      // rerun with nothing new: no empty/duplicate versions appear
      EventPipelines.runCatalogSink(stream, ckpt, cat, "events")
      assert(cat.versions("events") == Seq(1, 2))

      // new input resumes numbering; earlier versions stay immutable
      writeInput("c.json", Seq(4, 5))
      EventPipelines.runCatalogSink(stream, ckpt, cat, "events")
      assert(cat.versions("events") == Seq(1, 2, 3))
      val latest = cat.latest("events", Some(schema))
        .collect().map(_.getLong(0)).sorted
      assert(latest.toSeq == Seq(4L, 5L))
      val all = (1 to 3).flatMap(v =>
        cat.read("events", v, Some(schema)).collect().map(_.getLong(0)))
      assert(all.sorted == Seq(1L, 2L, 3L, 4L, 5L))
      def ids(v: Int) = cat.read("events", v, Some(schema))
        .collect().map(_.getLong(0)).sorted.toSeq

      // a compaction between runs leaves a gap between the epoch count
      // and the version count: the next epoch must still commit
      assert(cat.compact("events", Some(schema)) == 4)
      writeInput("d.json", Seq(6, 7))
      EventPipelines.runCatalogSink(stream, ckpt, cat, "events")
      assert(cat.versions("events") == Seq(1, 2, 3, 4, 5))
      assert(ids(5) == Seq(6L, 7L))

      // a claim orphaned by a writer that crashed between claim and
      // rename: the epoch commits past it, and so does the next one
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.create(new org.apache.hadoop.fs.Path(s"$root/events/.claims/v=6"), false).close()
      writeInput("e.json", Seq(8))
      EventPipelines.runCatalogSink(stream, ckpt, cat, "events")
      writeInput("f.json", Seq(9))
      EventPipelines.runCatalogSink(stream, ckpt, cat, "events")
      assert(cat.versions("events") == Seq(1, 2, 3, 4, 5, 7, 8))
      assert(ids(7) == Seq(8L) && ids(8) == Seq(9L))

      // catalog behind the checkpoint (root wiped): fail fast, never
      // silently drop epochs
      fs.delete(new org.apache.hadoop.fs.Path(s"$root/events"), true)
      writeInput("g.json", Seq(10))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        EventPipelines.runCatalogSink(stream, ckpt, cat, "events")
      }
      assert(err.getMessage.contains("desync") ||
        Option(err.getCause).exists(_.getMessage.contains("desync")))
    }
  }

  test("catalog merge sink: a streaming-maintained upsert materialized table") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeInput(name: String, rows: Seq[(Long, String)]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          rows.map { case (k, v) => s"""{"k":$k,"v":"$v"}""" }
            .mkString("\n").getBytes)
      val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v STRING")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root)
      def state(): Seq[(Long, String)] = cat.latest("dim", Some(schema))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq

      writeInput("e0.json", Seq(1L -> "a", 2L -> "b"))
      EventPipelines.runCatalogMergeSink(stream, ckpt, cat, "dim", Seq("k"), schema)
      assert(state() == Seq(1L -> "a", 2L -> "b"))

      writeInput("e1.json", Seq(2L -> "B2", 3L -> "c")) // update + insert
      EventPipelines.runCatalogMergeSink(stream, ckpt, cat, "dim", Seq("k"), schema)
      assert(state() == Seq(1L -> "a", 2L -> "B2", 3L -> "c"))
      val versionsAfter = cat.versions("dim")

      // idle rerun: epoch tags + offset log → nothing recommitted
      EventPipelines.runCatalogMergeSink(stream, ckpt, cat, "dim", Seq("k"), schema)
      assert(cat.versions("dim") == versionsAfter)
      assert(state() == Seq(1L -> "a", 2L -> "B2", 3L -> "c"))

      // crash between merge commit and offset commit: the epoch
      // replays, finds its tag on the committed version and skips
      val ckpt2 = s"$dir/ckpt-crashed"
      cloneCheckpointWithoutCommit(ckpt, ckpt2, 1L)
      EventPipelines.runCatalogMergeSink(stream, ckpt2, cat, "dim", Seq("k"), schema)
      assert(state() == Seq(1L -> "a", 2L -> "B2", 3L -> "c"),
        "replayed merge must leave the state unchanged")
      assert(cat.versions("dim") == versionsAfter, "replay must add no version")
    }
  }

  test("streaming line-stats sink: epoch counts fold, cleaning serves per version, replay-safe") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeInput(name: String, docs: Seq[(Long, String)]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          docs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
            .mkString("\n").getBytes)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      val stSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "lh BIGINT, nd BIGINT")
      // 10-token pseudo-lines: craft docs of exactly 10 tokens so each
      // doc IS one line; the chrome line recurs across epochs
      val chrome = "c c c c c c c c c c"
      val e1 = Seq((2L, chrome), (4L, chrome), (6L, "u1 " + ("a " * 8).trim + " z"))
      val e2 = Seq((1L, chrome), (3L, "u2 " + ("b " * 8).trim + " z"))
      writeInput("e1.json", e1)
      EventPipelines.runCatalogLineStatsSink(stream, ckpt, cat, "ls")
      assert(cat.latestVersion("ls_lines").contains(1))
      writeInput("e2.json", e2)
      EventPipelines.runCatalogLineStatsSink(stream, ckpt, cat, "ls")
      assert(cat.latestVersion("ls_lines").contains(2))
      def cnts(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val both = (e1 ++ e2).toDF("doc_id", "text")
      // latest = batch stats over the union (epoch-partitioned linearity)
      assert(cnts(cat.latest("ls_lines", Some(stSchema))) ==
        cnts(graft.ext.Boilerplate.lineStats(
          graft.ext.Boilerplate.linesTokenWindows(both))))
      // serving: cleaning a probe under v1 (chrome seen 2x < 3 → kept)
      // vs v2 (chrome seen 3x → cut) — version isolation of the rule
      val probe = graft.ext.Boilerplate.linesTokenWindows(
        Seq((9L, chrome)).toDF("doc_id", "text"))
      def keptLines(v: Int) = graft.ext.Boilerplate
        .removeLinesUnder(probe, cat.read("ls_lines", v, Some(stSchema)), " ")
        .collect()(0).getLong(1)
      assert(keptLines(1) == 1L && keptLines(2) == 0L)
      // replay with no new input: no new version
      EventPipelines.runCatalogLineStatsSink(stream, ckpt, cat, "ls")
      assert(cat.latestVersion("ls_lines").contains(2))
    }
  }

  test("streaming drift sink: epochs fold to the batch counts, served report matches, replay-safe") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, source STRING, text STRING")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      val stSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "source STRING, b BIGINT, cnt BIGINT")
      val fixture = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("source"), col("text"))
      def writeEpoch(name: String, docs: org.apache.spark.sql.DataFrame): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          docs.toJSON.collect().mkString("\n").getBytes)
      writeEpoch("e1.json", fixture.filter(col("doc_id") % 2 === 0))
      EventPipelines.runCatalogDriftSink(stream, ckpt, cat, "dm")
      assert(cat.latestVersion("dm_drift").contains(1))
      writeEpoch("e2.json", fixture.filter(col("doc_id") % 2 === 1))
      EventPipelines.runCatalogDriftSink(stream, ckpt, cat, "dm")
      assert(cat.latestVersion("dm_drift").contains(2))
      def cnts(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      // latest counts = batch counts over the union (linear-sketch law)
      assert(cnts(cat.latest("dm_drift", Some(stSchema))) ==
        cnts(graft.ext.Curation.sourceBucketCounts(fixture)))
      // the served report from streamed state = the in-query report
      def rep(df: org.apache.spark.sql.DataFrame) = graft.ext.Curation
        .driftReport(df).orderBy(col("source")).collect().toSeq
      assert(rep(cat.latest("dm_drift", Some(stSchema))) ==
        rep(graft.ext.Curation.sourceBucketCounts(fixture)))
      // replay with no new input: no new version (additive state —
      // the epoch tag is the exactly-once guard)
      EventPipelines.runCatalogDriftSink(stream, ckpt, cat, "dm")
      assert(cat.latestVersion("dm_drift").contains(2))
    }
  }

  test("streaming retrieval-index sink: served scores equal the in-query definition, replay-safe") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      val fixture = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text"))
      def writeEpoch(name: String, docs: org.apache.spark.sql.DataFrame): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          docs.toJSON.collect().mkString("\n").getBytes)
      // step = "bm25" so the streamed tables carry the exact names
      // bm25ServedScores reads
      writeEpoch("e1.json", fixture.filter(col("doc_id") % 2 === 0))
      EventPipelines.runCatalogRetrievalIndexSink(stream, ckpt, cat, "bm25")
      assert(cat.latestVersion("bm25_postings").contains(1))
      writeEpoch("e2.json", fixture.filter(col("doc_id") % 2 === 1))
      EventPipelines.runCatalogRetrievalIndexSink(stream, ckpt, cat, "bm25")
      assert(Seq("bm25_postings", "bm25_docstats", "bm25_terms", "bm25_stats")
        .forall(st => cat.latestVersion(st).contains(2)))
      def scores(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      // served-from-streamed-state scores = the in-query q59 definition
      // over the epochs' union, bit-for-bit (tf = 0 contributes +0.0)
      val served = scores(graft.ext.Retrieval.bm25ServedScores(cat, 2)
        .filter(col("score") > 0d))
      val direct = scores(graft.ext.Retrieval.bm25Scored(
          graft.ext.Retrieval.bm25Tokenize(fixture))
        .filter(col("score") > 0d))
      assert(served == direct)
      assert(served.nonEmpty)
      // replay with no new input: no new version on any of the four
      EventPipelines.runCatalogRetrievalIndexSink(stream, ckpt, cat, "bm25")
      assert(Seq("bm25_postings", "bm25_docstats", "bm25_terms", "bm25_stats")
        .forall(st => cat.latestVersion(st).contains(2)))
    }
  }

  test("streaming positional-postings sink: streamed phrase index equals the full-corpus build, replay-safe") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      val fixture = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text"))
      def writeEpoch(name: String, docs: org.apache.spark.sql.DataFrame): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          docs.toJSON.collect().mkString("\n").getBytes)
      writeEpoch("e1.json", fixture.filter(col("doc_id") % 2 === 0))
      EventPipelines.runCatalogRetrievalIndexSink(stream, ckpt, cat, "px",
        positional = true)
      writeEpoch("e2.json", fixture.filter(col("doc_id") % 2 === 1))
      EventPipelines.runCatalogRetrievalIndexSink(stream, ckpt, cat, "px",
        positional = true)
      val ppSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "term STRING, doc_id BIGINT, pos BIGINT")
      val streamed = cat.latest("px_ppost", Some(ppSchema))
      val tokenizedAll = fixture.select(col("doc_id"),
        graft.ext.TextDsl.tokens(col("text")).as("tk"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val full = rows(graft.ext.PhraseSearch.positionalPostings(tokenizedAll))
      assert(rows(streamed) == full)
      assert(full.nonEmpty)
      // the streamed index serves the phrase plan: adjacency-join tf
      // over the streamed table == the row-local shingle definition
      def tfs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(tfs(graft.ext.PhraseSearch.phraseTfPostings(streamed)) ==
        tfs(graft.ext.PhraseSearch.phraseTfShingle(tokenizedAll)))
      // replay with no new input: no new version
      EventPipelines.runCatalogRetrievalIndexSink(stream, ckpt, cat, "px",
        positional = true)
      assert(cat.latestVersion("px_ppost").contains(2))
    }
  }

  test("streaming weighted-sample sink: streamed min-k sample equals the batch sample over the union") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, source STRING, n_chars BIGINT")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      val fixture = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"))
      def writeEpoch(name: String, docs: org.apache.spark.sql.DataFrame): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          docs.toJSON.collect().mkString("\n").getBytes)
      writeEpoch("e1.json", fixture.filter(col("doc_id") % 2 === 0))
      EventPipelines.runCatalogWeightedSampleSink(stream, ckpt, cat, "ws")
      assert(cat.latestVersion("ws_sample").contains(1))
      writeEpoch("e2.json", fixture.filter(col("doc_id") % 2 === 1))
      EventPipelines.runCatalogWeightedSampleSink(stream, ckpt, cat, "ws")
      val stSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "source STRING, rank BIGINT, doc_id BIGINT, n_chars BIGINT, pri BIGINT")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("rank"),
          r.getAs[Long]("doc_id"), r.getAs[Long]("pri"))).toSet
      val streamed = rows(cat.latest("ws_sample", Some(stSchema)))
      val batch = rows(graft.ext.Curation.orderSampleTopK(
        graft.ext.Curation.orderSamplePriorities(fixture)))
      assert(streamed == batch)
      assert(streamed.nonEmpty)
      // replay with no new input: no new version
      EventPipelines.runCatalogWeightedSampleSink(stream, ckpt, cat, "ws")
      assert(cat.latestVersion("ws_sample").contains(2))
    }
  }

  test("streaming retrieval-index sink retention: retain=1 keeps one servable version per table") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      val fixture = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text"))
      def writeEpoch(name: String, docs: org.apache.spark.sql.DataFrame): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          docs.toJSON.collect().mkString("\n").getBytes)
      (0 to 2).foreach { r =>
        writeEpoch(s"e$r.json", fixture.filter(col("doc_id") % 3 === r))
        EventPipelines.runCatalogRetrievalIndexSink(
          stream, ckpt, cat, "bm25", retain = Some(1))
      }
      val tables = Seq("bm25_postings", "bm25_docstats", "bm25_terms", "bm25_stats")
      // exactly ONE version (the third) survives on every table...
      tables.foreach(st => assert(cat.versions(st) == Seq(3), s"$st: ${cat.versions(st)}"))
      // ... and it is a complete fold: served scores from the retained
      // version equal the in-query definition over ALL three epochs
      def scores(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val served = scores(graft.ext.Retrieval.bm25ServedScores(cat, 3)
        .filter(col("score") > 0d))
      val direct = scores(graft.ext.Retrieval.bm25Scored(
          graft.ext.Retrieval.bm25Tokenize(fixture))
        .filter(col("score") > 0d))
      assert(served == direct && served.nonEmpty)
      // replay: adds nothing, vacuums nothing
      EventPipelines.runCatalogRetrievalIndexSink(
        stream, ckpt, cat, "bm25", retain = Some(1))
      tables.foreach(st => assert(cat.versions(st) == Seq(3)))
    }
  }

  test("streaming dedup band-index sink: epochs fold to the batch index, replay-safe") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      val fixture = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text"))
      def writeEpoch(name: String, docs: org.apache.spark.sql.DataFrame): Unit = {
        val rows = docs.toJSON.collect()
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          rows.mkString("\n").getBytes)
      }
      writeEpoch("e1.json", fixture.filter(col("doc_id") % 2 === 0))
      EventPipelines.runCatalogDedupIndexSink(stream, ckpt, cat, "mh")
      assert(cat.latestVersion("mh_bands").contains(1))
      assert(cat.latestVersion("mh_shingles").contains(1))
      writeEpoch("e2.json", fixture.filter(col("doc_id") % 2 === 1))
      EventPipelines.runCatalogDedupIndexSink(stream, ckpt, cat, "mh")
      assert(cat.latestVersion("mh_bands").contains(2))
      // streamed latest ≡ the batch-built index over the union — the
      // epoch-partitioned linearity law every foldable sink obeys
      val bSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "band INT, bsig STRING, doc_id BIGINT")
      val shSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, hsh ARRAY<BIGINT>")
      val (base, banded) = graft.operators.NearDup.minhashBandTable(
        fixture, col("doc_id"), col("text"))
      def bandSet(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
      assert(bandSet(cat.latest("mh_bands", Some(bSchema))) ==
        bandSet(banded.select(col("band"), col("bsig"), col("doc_id"))))
      def shMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      assert(shMap(cat.latest("mh_shingles", Some(shSchema))) ==
        shMap(base.select(col("doc_id"),
          org.apache.spark.sql.functions.array_distinct(
            org.apache.spark.sql.functions.transform(col("sh"),
              sh => graft.ext.TextDsl.hp(sh))).as("hsh"))))
      // replay with no new input: no new version on either table
      EventPipelines.runCatalogDedupIndexSink(stream, ckpt, cat, "mh")
      assert(cat.latestVersion("mh_bands").contains(2))
      assert(cat.latestVersion("mh_shingles").contains(2))
    }
  }

  test("streaming semantic-dedup sink: per-epoch verdicts equal the batch primitive, replay-safe") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<DOUBLE>")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      // double-cast once: float→double is exact and JSON round-trips
      // doubles exactly, so streamed epochs see the same values the
      // batch reference below sees
      val fixture = spark.read
        .parquet("/root/testdata/sf0.001/embeddings.parquet")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
      val cents = graft.operators.SimilarityJoin.md5CentroidTable(spark)
      def writeEpoch(name: String, df: org.apache.spark.sql.DataFrame): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          df.toJSON.collect().mkString("\n").getBytes)
      // one file per run: each verdicts version pairs with one epoch
      (0 to 2).foreach { r =>
        writeEpoch(s"e$r.json", fixture.filter(col("vec_id") % 3 === r))
        EventPipelines.runCatalogSemanticDedupSink(stream, col("vec_id"),
          col("embedding"), cents, 0.4, ckpt, cat, "sd")
      }
      assert(cat.versions("sd_pool") == Seq(1, 2, 3))
      assert(cat.versions("sd_verdicts") == Seq(1, 2, 3))
      val vSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "cell BIGINT, n_new BIGINT, n_new_dups BIGINT, n_new_kept BIGINT")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // the law: verdicts version r+1 ≡ q89's batch primitive with
      // pool = epochs < r and new = epoch r
      (0 to 2).foreach { r =>
        val expect = graft.operators.SimilarityJoin.semanticDedupIncremental(
          fixture.filter(col("vec_id") % 3 <= r), col("vec_id"),
          col("embedding"), isNew = col("vec_id") % 3 === r, cents, 0.4)
        assert(rows(cat.read("sd_verdicts", r + 1, Some(vSchema))) ==
          rows(expect), s"verdicts v${r + 1} != batch primitive")
      }
      // pool latest ≡ the batch assignment of the whole corpus
      val pSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, v ARRAY<BIGINT>, n2 BIGINT, cell INT")
      def poolRows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2), r.getInt(3)))
        .toSet
      assert(poolRows(cat.latest("sd_pool", Some(pSchema))) ==
        poolRows(graft.operators.SimilarityJoin.assignVectorsOnce(
          fixture, col("vec_id"), col("embedding"), cents)))
      // replay with no new input: adds nothing anywhere
      EventPipelines.runCatalogSemanticDedupSink(stream, col("vec_id"),
        col("embedding"), cents, 0.4, ckpt, cat, "sd")
      assert(cat.versions("sd_pool") == Seq(1, 2, 3))
      assert(cat.versions("sd_verdicts") == Seq(1, 2, 3))
    }
  }

  test("streaming cluster sink: contraction folds equal the batch re-close, replay-safe") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      val fixture = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text"))
      def writeEpoch(name: String, docs: org.apache.spark.sql.DataFrame): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          docs.toJSON.collect().mkString("\n").getBytes)
      // one file per run: each version must pair with exactly one epoch
      (0 to 2).foreach { r =>
        writeEpoch(s"e$r.json", fixture.filter(col("doc_id") % 3 === r))
        EventPipelines.runCatalogClusterSink(stream, ckpt, cat, "cl")
      }
      assert(cat.versions("cl_clusters") == Seq(1, 2, 3))
      assert(cat.versions("cl_bands") == Seq(1, 2, 3))
      val clSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "node BIGINT, label BIGINT")
      def labelMap(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val streamed = labelMap(cat.latest("cl_clusters", Some(clSchema)))
      // the law: three contraction folds ≡ one batch re-close of the
      // full pair set (epoch order discovered every pair exactly once)
      val pairs = graft.operators.NearDup.minhashLsh(
          fixture, col("doc_id"), col("text"))
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val direct = labelMap(graft.operators.Graph.connectedComponents(pairs))
      assert(streamed == direct && streamed.nonEmpty)
      // replay with no new input: adds nothing anywhere
      EventPipelines.runCatalogClusterSink(stream, ckpt, cat, "cl")
      assert(cat.versions("cl_clusters") == Seq(1, 2, 3))
      assert(cat.versions("cl_bands") == Seq(1, 2, 3))
      assert(cat.versions("cl_shingles") == Seq(1, 2, 3))
    }
  }

  test("streaming classifier sink: bootstrap then warm-start under the frozen artifact, replay-safe") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeInput(name: String, docs: Seq[(Long, String)]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          docs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
            .mkString("\n").getBytes)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      val fixture = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val e1docs = fixture.filter(col("doc_id") % 2 === 0)
      val e2docs = fixture.filter(col("doc_id") % 2 === 1)
      def lines(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      writeInput("e1.json", lines(e1docs))
      EventPipelines.runCatalogClassifierSink(stream, ckpt, cat, "clf")
      assert(cat.latestVersion("clf_thr").contains(1))
      assert(cat.latestVersion("clf_stats").contains(1))
      assert(cat.latestVersion("clf_w").contains(1))
      writeInput("e2.json", lines(e2docs))
      EventPipelines.runCatalogClassifierSink(stream, ckpt, cat, "clf")
      // thresholds/stats FROZEN at v1; weights advanced
      assert(cat.latestVersion("clf_thr").contains(1))
      assert(cat.latestVersion("clf_stats").contains(1))
      assert(cat.latestVersion("clf_w").contains(2))

      // the streamed two-epoch model equals the BATCH warm-start run
      // of the same two phases (the q147 law, epoch-B universe = the
      // odd docs here)
      import graft.ext.Classifier
      val T_ = org.apache.spark.sql.types.StructType.fromDDL _
      val scope = new graft.CacheScope
      try {
        val tkA = scope.cache(Classifier.tk3(e1docs))
        val scoredA = scope.cache(Classifier.scoredCb(tkA))
        val thrA = Classifier.labelThresholds(scoredA)
        val rawA = scope.cache(Classifier.rawFeaturesUnder(tkA, scoredA, thrA))
        val statsA = Classifier.featureStats(rawA)
        val featA = scope.cache(
          Classifier.standardizeUnder(rawA, statsA).coalesce(4))
        val snapsA = Classifier.trainPerceptron(featA, 5)
        val tkB = scope.cache(Classifier.tk3(e2docs))
        val rawB = scope.cache(Classifier.rawFeaturesUnder(
          tkB, Classifier.scoredCb(tkB), thrA))
        val featB = scope.cache(
          Classifier.standardizeUnder(rawB, statsA).coalesce(4))
        val snapsB = Classifier.trainPerceptronFrom(featB, 5, snapsA.last._2)
        val wSchema = T_(Classifier.WeightsSchemaDdl)
        assert(Classifier.lastWeights(
          cat.read("clf_w", 1, Some(wSchema))).toSeq ==
          snapsA.last._2.toSeq)
        assert(Classifier.lastWeights(
          cat.read("clf_w", 2, Some(wSchema))).toSeq ==
          snapsB.last._2.toSeq)
      } finally scope.release()
      // replay with no new input: nothing moves (training is neither
      // idempotent nor foldable — the tag guard is all that stands
      // between a replay and a double-trained model)
      EventPipelines.runCatalogClassifierSink(stream, ckpt, cat, "clf")
      assert(cat.latestVersion("clf_w").contains(2))
    }
  }

  test("streaming hashed-classifier sink: weight TABLE warm-start under " +
    "the frozen thresholds, streamed == batch chain, replay-safe") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val in = s"$dir/in"; val ckpt = s"$dir/ckpt"; val root = s"$dir/cat"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
      def writeInput(name: String, docs: Seq[(Long, String)]): Unit =
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$in/$name"),
          docs.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
            .mkString("\n").getBytes)
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING")
      def stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).json(in)
      val cat = new graft.catalog.VersionedCatalog(spark, root, format = "parquet")
      val fixture = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val e1docs = fixture.filter(col("doc_id") % 2 === 0)
      val e2docs = fixture.filter(col("doc_id") % 2 === 1)
      def lines(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      writeInput("e1.json", lines(e1docs))
      EventPipelines.runCatalogHashedClassifierSink(stream, ckpt, cat, "hclf")
      assert(cat.latestVersion("hclf_thr").contains(1))
      assert(cat.latestVersion("hclf_w").contains(1))
      writeInput("e2.json", lines(e2docs))
      EventPipelines.runCatalogHashedClassifierSink(stream, ckpt, cat, "hclf")
      // thresholds FROZEN at v1; the weight TABLE advanced a version
      assert(cat.latestVersion("hclf_thr").contains(1))
      assert(cat.latestVersion("hclf_w").contains(2))

      // the streamed two-epoch table equals the BATCH warm-start chain
      // over the same two phases (the q147 law at table scale) — phase
      // B labeled under phase A's FROZEN thresholds
      import graft.ext.{Classifier, HashedClassifier => H}
      val T_ = org.apache.spark.sql.types.StructType.fromDDL _
      def wSet(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val scope = new graft.CacheScope
      try {
        val tkA = scope.cache(Classifier.tk3(e1docs))
        val hqA = scope.cache(H.qualityE4(tkA))
        val thrA = H.qThresholds(hqA).localCheckpoint()
        val labA = scope.cache(H.labelsUnder(hqA, thrA).coalesce(4))
        val occA = scope.cache(H.hashedOcc(tkA).coalesce(8))
        val wA = H.trainTransientFrom(spark, occA, labA,
          spark.createDataFrame(
            java.util.Collections.emptyList[org.apache.spark.sql.Row](),
            T_(H.WSchemaDdl))).localCheckpoint()
        val tkB = scope.cache(Classifier.tk3(e2docs))
        val hqB = scope.cache(H.qualityE4(tkB))
        val labB = scope.cache(H.labelsUnder(hqB, thrA).coalesce(4))
        val occB = scope.cache(H.hashedOcc(tkB).coalesce(8))
        val wB = H.trainTransientFrom(spark, occB, labB, wA)
        assert(wSet(cat.read("hclf_w", 1, Some(T_(H.WSchemaDdl)))) ==
          wSet(wA), "epoch-1 table != batch phase-A training")
        assert(wSet(cat.read("hclf_w", 2, Some(T_(H.WSchemaDdl)))) ==
          wSet(wB), "epoch-2 table != batch warm-start continuation")
      } finally scope.release()
      // replay with no new input: training is neither idempotent nor
      // foldable — nothing may move
      EventPipelines.runCatalogHashedClassifierSink(stream, ckpt, cat, "hclf")
      assert(cat.latestVersion("hclf_w").contains(2))
      // crash-replay of a COMMITTED epoch id: the tag guard no-ops it
      EventPipelines.trainHashedEpoch(cat, "hclf",
        e2docs, epoch = 1L, epochsPerBatch = 6)
      assert(cat.latestVersion("hclf_w").contains(2))
    }
  }

  test("foreachBatch retry: transient sink failure retried within an epoch (ST3)") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    withTempDir { dir =>
      val ms = MemoryStream[Event]
      ms.addData(ev(1, "00:01:00"), ev(2, "00:02:00"))
      val attempts = new java.util.concurrent.atomic.AtomicInteger
      val delivered = scala.collection.mutable.ArrayBuffer.empty[Long]
      runForeachBatchWithRetry(ms.toDF(), s"$dir/ckpt",
        graft.pipeline.Transforms.RetryConfig(maxRetries = 2)) { (batch, _) =>
        if (attempts.incrementAndGet() == 1)
          throw new RuntimeException("transient sink outage")
        delivered ++= batch.select("event_id").collect().map(_.getLong(0))
      }
      assert(attempts.get() >= 2)
      assert(delivered.sorted.toSeq == Seq(1L, 2L))
    }
  }
}
