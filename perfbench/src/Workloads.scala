package graft.perfbench

import graft.SparkEntry
import graft.catalog.VersionedCatalog
import graft.pipeline.{ExamplePipeline, PipelineRun, Status}
import graft.streaming.EventPipelines
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.util.Random

/** One timed operation: a query, or one ETL increment. */
final case class OpRec(name: String, spanId: Int, seconds: Double, ok: Boolean)

/** One pass over a workload's operation list. `rows` is what the pass
  * processed: the rows its queries' plans read (suite) or the generated
  * rows it committed (etl); `inputBytes` is the bytes it generated. */
final case class PassRec(spanId: Int, seconds: Double, ops: Seq[OpRec],
    reads: Seq[Double], readsOk: Seq[Boolean], rows: Long, inputBytes: Long)

/** What every workload provides to [[Runner]]. */
trait Workload {
  /** Create the workload's generated inputs. */
  def makeInputs(): Unit
  /** Build-once stores the workload serves from: (family, seconds). */
  def buildStores(): Seq[(String, Double)]
  /** One pass over the operation list. */
  def pass(pass: Int): PassRec
  /** Warm-up before timing (JIT, codegen, stream start). */
  def warmUp(): PassRec
  /** Passes every run measures at least, so that the sample count does
    * not change when a pass ends close to `--seconds`. */
  def minPasses: Int
  /** Checks that need the whole run, e.g. the final table; returns
    * (checks run, checks failed). */
  def finalChecks(): (Int, Int) = (0, 0)
  /** Workload facts recorded in the artifact. */
  def describe: Map[String, Any]
  /** Failure messages, for the artifact. */
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
}

/** (row count, checksum) pins for query outputs; a `None` checksum is a
  * row-count-only pin. */
final class Pins(expected: Map[String, (Long, Option[Long])], record: Boolean) {
  val observed: mutable.LinkedHashMap[String, (Long, Long)] = mutable.LinkedHashMap.empty

  def check(key: String, n: Long, h: Long): Boolean = {
    observed.get(key) match {
      case Some(prev) if record && prev != ((n, h)) =>
        observed(key) = (n, Long.MinValue) // checksum did not repeat within the run
      case None => observed(key) = (n, h)
      case _ =>
    }
    record || expected.get(key).exists { case (en, eh) => en == n && eh.forall(_ == h) }
  }
}

/** The checksum every workload uses: row count plus an
  * order-independent hash of every column, so no column can be pruned. */
object Checksum {
  def of(df: DataFrame): (Long, Long) = {
    val r = df.selectExpr("count(1)", "bit_xor(xxhash64(struct(*)))").collect().head
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}

/** Query workload: SparkEntry queries over the fixture tables and the
  * kernel operations of [[Kernels]], in a seed-shuffled order each
  * pass. Each operation is timed from the call that constructs it
  * (eager construct-time work included) to the collected checksum; the
  * construct, plan and exec phases are separate spans. Each pass also
  * reads back a catalog that set-up builds from the fixture (a full
  * read, a key-range read and a `latest`), the workload's `read_p50_s`
  * samples. */
final class QueryWorkload(spark: SparkSession, tr: Tracer, pins: Pins, seed: Long,
    inDir: String, work: String) extends Workload {
  import QueryWorkload._

  private val all = SparkEntry.queries
  val queries: Seq[String] = Queries.map { n =>
    all.keys.find(k => k == n || k.startsWith(n + "_"))
      .getOrElse(throw new IllegalArgumentException(s"unknown query $n"))
  }
  val operations: Seq[String] = queries ++ Kernels.groups.map("functions." + _._1)
  val opPlans: mutable.Map[Int, org.apache.spark.sql.execution.SparkPlan] = mutable.Map.empty
  private lazy val cat = new VersionedCatalog(spark, s"$work/catalog", format = "parquet")
  val kernelDir = s"$work/kernels"

  /** The queries read the fixture tables in place. Set-up writes the
    * kernel inputs and a catalog holding a key-sorted copy of lineitem
    * and a copy of events, which the read samples read back. */
  def makeInputs(): Unit = {
    Kernels.makeInputs(spark, kernelDir)
    cat.writeNextSorted("lineitem", graft.Tables.lineitem(spark, inDir), Seq("l_orderkey"), numFiles = 4)
    cat.writeNext("events", graft.Tables.events(spark, inDir))
  }

  /** One pass (JIT, codegen, first reads of every input). */
  def warmUp(): PassRec = pass(0)

  /** `op_tail_s` is a rank statistic, and on this mix of operations its
    * value jumps when the sample count changes; three passes put it at
    * the 72nd percentile. */
  def minPasses: Int = 3

  def buildStores(): Seq[(String, Double)] =
    Seq("zorder" -> tr.timed("Stores.prebuild.zorder")(graft.ops.Relational.prebuild(spark, inDir))._2)

  private def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Runs one operation; returns its record and the rows its collected
    * plan read at its leaves (scans of files, caches and local
    * relations). */
  private def runOp(name: String): (OpRec, Long) = {
    var spanId = -1
    var leafRows = 0L
    val (ok, secs) = tr.timed(s"op:$name") {
      spanId = tr.current
      try {
        val (df, _) =
          if (name.startsWith("functions."))
            tr.timed("functions.construct")(Kernels.query(spark, kernelDir, name.stripPrefix("functions.")))
          else tr.timed("SparkEntry.construct")(all(name)(spark, inDir))
        val checked = df.selectExpr("count(1)", "bit_xor(xxhash64(struct(*)))")
        val (plan, _) = tr.timed("plan")(checked.queryExecution.executedPlan)
        val (row, _) = tr.timed("exec")(checked.collect().head)
        if (tr.enabled) opPlans(spanId) = plan
        leafRows = graft.tools.PlanWalk.collectAll(plan).filter(_.children.isEmpty)
          .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
        val good = pins.check(name, row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
        if (!good) errors += s"$name: wrong result (${row.getLong(0)}, ${row.get(1)})"
        good
      } catch {
        case e: Throwable =>
          errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
          false
      }
    }
    cleanup()
    (OpRec(name, spanId, secs, ok), leafRows)
  }

  private def read(what: String, step: String)(df: => DataFrame): (Double, Boolean) = {
    val ((n, h), s) = tr.timed(s"catalog.$what")(Checksum.of(df))
    val good = pins.check(s"$what:$step", n, h)
    if (!good) errors += s"$what: wrong result ($n, $h)"
    (s, good)
  }

  def pass(p: Int): PassRec = {
    val order = new Random(seed * 7919L + p).shuffle(operations)
    var ops = Seq.empty[(OpRec, Long)]
    var reads = Seq.empty[(Double, Boolean)]
    var passId = -1
    val (_, secs) = tr.timed(s"pass:$p") {
      passId = tr.current
      ops = order.map(runOp)
      reads = Seq(
        read("read", "lineitem")(cat.read("lineitem", 1)),
        read("read_range", "lineitem")(cat.readRange("lineitem", 1, "l_orderkey", RangeLo, RangeHi)),
        read("latest", "events")(cat.latest("events")))
    }
    PassRec(passId, secs, ops.map(_._1), reads.map(_._1), reads.map(_._2), ops.map(_._2).sum, 0L)
  }

  def describe: Map[String, Any] = Map("operations" -> operations)
}

object QueryWorkload {
  /** One query per engine module (relational, stores, catalog, checks,
    * streaming), q146 for `Par.run` catalog writes at construct, and two
    * LLM-data queries that call `graft.functions` kernels: q33
    * (tokenize) and q41 (tokenize, shingles, minhash). */
  val Queries: Seq[String] = Seq("q01", "q227", "q61", "q69", "q62", "q146", "q33", "q41")
  /** The key range of the `read_range` sample: a tenth of the
    * fixture's 1500 order keys, so the manifest's per-file key ranges
    * prune most of the four files. */
  val RangeLo = 600L
  val RangeHi = 749L
}

/** The reference's own job, run end to end: a seeded generator lands
  * UserData JSONL increments one at a time; each increment is one
  * [[PipelineRun]] of ExtractIncrement (file stream → catalog, resuming
  * from its checkpoint), Upsert (merge on `id`) and Publish (the
  * example transform, committed as the next version), and ends with
  * `stow()`. Every `compactEvery`-th increment also compacts and
  * vacuums. After each increment the previous version, the latest
  * version and their diff are read back and checked. `smoke` selects
  * the smallest size, for the harness's own test. */
final class EtlWorkload(spark: SparkSession, tr: Tracer, seed: Long, work: String,
    smoke: Boolean) extends Workload {
  import EtlWorkload._

  private val incRows = if (smoke) 200 else 5000
  private val compactEvery = if (smoke) 2 else 3

  private val schema = StructType(Seq(StructField("id", StringType), StructField("name", StringType)))
  private val ts = "2025-07-04T12:00:00Z"
  private val root = s"$work/catalog"
  private val landing = Path.of(s"$work/landing")
  private val staging = Path.of(s"$work/landing-staging")
  private lazy val cat = new VersionedCatalog(spark, root)

  // the independent model: a plain-Scala fold of every generated record
  private val fold = mutable.HashMap.empty[String, String]
  private var nextKey = 0L
  private var increment = 0
  // per committed `users` version: (rows, keys changed from the version before)
  private val usersVersions = mutable.HashMap.empty[Int, (Long, Long)]
  private val lastVersion = mutable.HashMap.empty[String, Int]
  var versionGaps = 0
  var failedSteps = 0
  private var landedBytes = 0L

  /** Increment `i`'s records: `UpdateShare` of them update distinct
    * existing keys, the rest insert new keys; no key repeats within an
    * increment. Deterministic in (seed, i) and the keys issued so far. */
  private def generate(i: Int, existing: Long): Seq[(String, String)] = {
    val rnd = new Random(seed * 1000003L + i)
    val nUpd = math.min(existing, math.round(incRows * UpdateShare)).toInt
    val upd = mutable.LinkedHashSet.empty[Long]
    while (upd.size < nUpd) upd += (rnd.nextLong() & Long.MaxValue) % existing
    val keys = upd.toSeq ++ (existing until existing + (incRows - nUpd))
    keys.map(k => k.toString -> Iterator.continually(('a' + rnd.nextInt(26)).toChar).take(5 + rnd.nextInt(6)).mkString)
  }

  private def toJsonl(recs: Seq[(String, String)]): Array[Byte] =
    recs.iterator.map { case (id, name) => s"""{"id":"$id","name":"$name"}""" }.mkString("", "\n", "\n").getBytes(UTF_8)

  /** The records are generated as each increment lands; set-up only
    * creates the landing area. */
  def makeInputs(): Unit = {
    Files.createDirectories(staging)
    Files.createDirectories(landing)
  }

  /** One pass: the first increment starts the stream and pays codegen,
    * the later ones warm merge, compaction and vacuum. */
  def warmUp(): PassRec = passOf(0, compactEvery)

  /** Each pass has one compacting increment, the slowest, so the
    * stand-in tail (median of each pass's slowest) holds with two. */
  def minPasses: Int = 2

  def buildStores(): Seq[(String, Double)] = Seq.empty

  private def checksum(df: DataFrame, what: String, expectRows: Long): (Double, Boolean) = {
    val ((n, _), s) = tr.timed(what)(Checksum.of(df))
    val good = n == expectRows
    if (!good) errors += s"$what after increment $increment: $n rows, expected $expectRows"
    (s, good)
  }

  private def committed(step: String, v: Int): Unit = {
    lastVersion.get(step).foreach(prev => versionGaps += v - prev - 1)
    lastVersion(step) = v
  }

  private def runIncrement(): (OpRec, Seq[(Double, Boolean)]) = {
    increment += 1
    val i = increment
    val recs = generate(i, nextKey)
    val inserted = recs.count(_._1.toLong >= nextKey)
    val changed = recs.count { case (k, n) => !fold.get(k).contains(n) }.toLong
    val tmp = staging.resolve(f"inc-$i%06d.jsonl")
    val bytes = toJsonl(recs)
    Files.write(tmp, bytes)
    landedBytes += bytes.length
    Files.move(tmp, landing.resolve(f"inc-$i%06d.jsonl"), StandardCopyOption.ATOMIC_MOVE)
    // the file has landed: the operation runs until its version is published
    var spanId = -1
    val (ok, secs) = tr.timed(s"op:increment") {
      spanId = tr.current
      val run = new PipelineRun(spark, s"$work/status/etl_run_status.json", s"$work/temp")
      try {
        run.executeStep("ExtractIncrement") {
          tr.timed("ExtractIncrement") {
            val stream = spark.readStream.schema(schema).json(landing.toString)
            EventPipelines.runCatalogSink(stream, s"$work/checkpoint", cat, "raw")
          }
        }
        val vRaw = cat.latestVersion("raw").get
        committed("raw", vRaw)
        val rawRows = cat.manifest("raw", vRaw).flatMap(_.rowCount)
        val rawOk = rawRows.contains(incRows.toLong)
        if (!rawOk) errors += s"raw v$vRaw row_count $rawRows, expected $incRows"
        val vUsers = run.executeStep("Upsert") {
          tr.timed("Upsert") {
            import org.apache.spark.sql.functions.{col, max}
            val reduced = cat.read("raw", vRaw, Some(schema))
              .groupBy(col("id")).agg(max(col("name")).as("name"))
            if (cat.latestVersion("users").isEmpty) cat.writeNext("users", reduced)
            else tr.timed("catalog.merge")(cat.merge("users", reduced, Seq("id"), Some(schema)))._1
          }._1
        }
        recs.foreach { case (k, n) => fold(k) = n }
        nextKey += inserted
        committed("users", vUsers)
        usersVersions(vUsers) = (fold.size.toLong, changed)
        run.executeStep("Publish") {
          tr.timed("Publish") {
            import spark.implicits._
            val users = cat.latest("users", Some(schema)).as[ExamplePipeline.UserData]
            committed("published", cat.writeNext("published", ExamplePipeline.transformUsers(users, ts)))
          }
        }
        tr.timed("pipeline.status_write")(run.stow())
        if (i % compactEvery == 0) {
          val vc = tr.timed("catalog.compact")(cat.compact("users", Some(schema)))._1
          committed("users", vc)
          usersVersions(vc) = (fold.size.toLong, 0L)
          tr.timed("catalog.vacuum") {
            Seq("raw", "users", "published").foreach(cat.vacuum(_, Keep))
          }
        }
        rawOk
      } catch {
        case e: Throwable =>
          errors += s"increment $i: ${e.getClass.getSimpleName}: ${e.getMessage}"
          false
      } finally failedSteps += run.stepStatuses.count(_.status == Status.Failed)
    }
    val v = cat.latestVersion("users").getOrElse(0)
    val reads =
      if (!ok || v < 2) Seq.empty
      else {
        val (prevRows, _) = usersVersions(v - 1)
        val (rows, changedKeys) = usersVersions(v)
        Seq(
          checksum(cat.read("users", v - 1, Some(schema)), "catalog.read", prevRows),
          checksum(cat.latest("users", Some(schema)), "catalog.latest", rows),
          checksum(cat.diff("users", v - 1, v, Seq("id"), Some(schema)), "catalog.diff", changedKeys))
      }
    (OpRec("increment", spanId, secs, ok), reads)
  }

  def pass(p: Int): PassRec = passOf(p, compactEvery)

  private def passOf(p: Int, increments: Int): PassRec = {
    var results = Seq.empty[(OpRec, Seq[(Double, Boolean)])]
    var passId = -1
    val bytes0 = landedBytes
    val (_, secs) = tr.timed(s"pass:$p") {
      passId = tr.current
      results = (1 to increments).map(_ => runIncrement())
    }
    val reads = results.flatMap(_._2)
    PassRec(passId, secs, results.map(_._1), reads.map(_._1), reads.map(_._2),
      incRows.toLong * increments, landedBytes - bytes0)
  }

  /** The published table must equal the plain-Scala fold of every
    * generated record, passed through the example transform. */
  override def finalChecks(): (Int, Int) = {
    val published = StructType(Seq("userId", "processedName", "timestamp").map(StructField(_, StringType)))
    val rows = cat.latest("published", Some(published)).collect()
    val got = rows.map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    val want = fold.map { case (k, n) => k -> (s"Processed_${n}_Individually", ts) }.toMap
    val good = rows.length == want.size && got == want
    if (!good) errors += s"published table (${rows.length} rows) differs from the reference fold (${want.size} rows)"
    (1, if (good) 0 else 1)
  }

  def describe: Map[String, Any] = Map("increment_rows" -> incRows, "update_share" -> UpdateShare,
    "compact_every" -> compactEvery, "vacuum_keep" -> Keep, "increments" -> increment,
    "final_rows" -> fold.size)
}

object EtlWorkload {
  /** Share of each increment that updates existing keys: a synthetic
    * choice, so that `merge` rewrites rows and `diff` finds changes,
    * not only appends. */
  val UpdateShare = 0.2
  /** Versions `vacuum` keeps per step. */
  val Keep = 3
}
