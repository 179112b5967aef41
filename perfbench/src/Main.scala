package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark harness: one workload, one seed, one run.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --out FILE
  *   [--size bench|smoke] [--expected FILE] [--record FILE] [--spans FILE]
  *   [--fixture DIR] [--work DIR]
  *
  * Closed loop, one client thread, `local[<cores>]`. Set-up (session,
  * inputs, stores, warm-up pass) is timed as `setup_s`; then whole
  * passes over the operation list run until `--seconds` have passed
  * and at least the workload's `minPasses` are done.
  * The result goes to `--out` as JSON, because queries such as q60 print
  * to stdout themselves. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val size = opt.getOrElse("size", "bench")
    val work = Path.of(opt.getOrElse("work", "work")).toAbsolutePath.toString
    val fixture = Path.of(opt.getOrElse("fixture", "perfbench/data/sf0.001")).toAbsolutePath.toString
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3

    val tr = new Tracer(spark, trace)
    val exec = new ExecListener
    val stream = new StreamListener
    val writes = new WriteListener
    if (trace) {
      spark.sparkContext.addSparkListener(exec)
      spark.streams.addListener(stream)
      spark.listenerManager.register(writes)
    }

    val pins = new Pins(opt.get("expected").map(f => loadPins(f, workload)).getOrElse(Map.empty),
      record = opt.contains("record"))
    val w: Workload = workload match {
      case "suite" => new QueryWorkload(spark, tr, pins, seed, fixture, work)
      case "etl_incremental" => new EtlWorkload(spark, tr, seed, s"$work/etl", smoke = size == "smoke")
      case _ => throw new IllegalArgumentException(s"unknown workload $workload")
    }

    // set-up: inputs, stores, warm-up
    val inputsS = tr.timed("setup.inputs")(w.makeInputs())._2
    val storesS = w.buildStores()
    val warm = w.warmUp()
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    // live heap: in use right after a full GC at the end of the first
    // measured pass, so every run has done the same work when it is read
    val measured = mutable.ArrayBuffer.empty[PassRec]
    var liveHeapMb = 0.0
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds || measured.size < w.minPasses) {
      measured += w.pass(measured.size + 1)
      if (measured.size == 1) {
        // the second collection also frees what the context cleaner
        // released after the first
        System.gc()
        Thread.sleep(500)
        System.gc()
        liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      }
    }
    val measureS = (System.nanoTime() - t0) / 1e9
    val calib = hostCalibration(spark)
    val (finalRun, finalFailed) = w.finalChecks()

    val passes = warm +: measured.toSeq
    val opsAll = passes.flatMap(_.ops)
    val attempted = opsAll.size + passes.map(_.reads.size).sum + finalRun
    val failed = opsAll.count(!_.ok) + passes.map(_.readsOk.count(!_)).sum + finalFailed
    val opS = measured.flatMap(_.ops.map(_.seconds)).toSeq
    val (tailS, tailPct) = Stats.tail(measured.map(_.ops.map(_.seconds)).toSeq)
    // a pass reads a fixed mix (read, range read and latest, or
    // read/latest/diff), so the median is over passes of the pass's mean
    // read time
    val reads = measured.filter(_.reads.nonEmpty).map(p => p.reads.sum / p.reads.size).toSeq
    val passS = Stats.median(measured.map(_.seconds).toSeq)

    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", passS, "s"),
      ("op_p50_s", Stats.median(opS), "s"),
      ("op_tail_s", tailS, "s"),
      ("rows_per_s", Stats.median(measured.map(p => p.rows / p.seconds).toSeq), "rows/s"),
      ("read_p50_s", if (reads.isEmpty) Double.NaN else Stats.median(reads), "s"),
      ("live_heap_mb", liveHeapMb, "MB"))

    val layers: Seq[(String, Double, String)] =
      if (!trace) Nil
      else {
        // each kernel on its own; 0 on a workload that calls no kernel
        val kernels = w match {
          case q: QueryWorkload => Kernels.rowsPerSecond(spark, q.kernelDir)
          case _ => Map.empty[String, Double]
        }
        org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
        val setup = Seq(
          ("Stores.prebuild_s.zorder", storesS.collect { case ("zorder", s) => s }.sum, "s"),
          ("setup.session_s", sessionS, "s"),
          ("setup.inputs_s", inputsS, "s"),
          ("setup.warm_s", warm.seconds, "s"),
          ("host.calib_s", calib, "s"))
        val plans = w match { case q: QueryWorkload => q.opPlans.toMap; case _ => Map.empty[Int, SparkPlan] }
        val (gaps, failedSteps) = w match {
          case e: EtlWorkload => (e.versionGaps.toDouble, e.failedSteps.toDouble)
          case _ => (0.0, 0.0)
        }
        val perPass = measured.toSeq.map(p => Layers.forPass(p, tr.spans.toSeq, exec, stream, writes, plans, cores))
        val names = perPass.head.map(m => (m._1, m._3))
        names.map { case (n, unit) => (n, Stats.median(perPass.map(_.find(_._1 == n).get._2)), unit) } ++
          Seq(("catalog.version_gaps", gaps, "count"), ("pipeline.failed_steps", failedSteps, "count")) ++
          setup ++ Kernels.names.map(k => (s"functions.$k.rows_per_s", kernels.getOrElse(k, 0.0), "rows/s"))
      }

    val metrics = if (trace) layers else e2e
    val diagnostics = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "size" -> size, "cores" -> cores,
      "passes" -> measured.size, "measure_s" -> measureS, "op_samples" -> opS.size,
      "op_tail_percentile" -> tailPct, "read_samples" -> measured.map(_.reads.size).sum,
      "error_rate" -> failed.toDouble / attempted, "host.calib_s" -> calib,
      "pass_seconds" -> measured.map(_.seconds).toSeq, "warm_pass_s" -> warm.seconds,
      "op_median_s" -> measured.flatMap(_.ops).groupBy(_.name).map { case (n, os) => n -> Stats.median(os.map(_.seconds).toSeq) },
      "setup_parts_s" -> Map("session" -> sessionS, "inputs" -> inputsS, "stores" -> storesS.map(_._2).sum, "warm" -> warm.seconds),
      "workload_facts" -> w.describe, "errors" -> w.errors.toSeq.take(20))
    val result = Map[String, Any](
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
      "diagnostics" -> diagnostics)
    Files.write(Path.of(opt("out")), Json.render(result).getBytes(UTF_8))
    opt.get("spans").filter(_ => trace).foreach { f =>
      Files.write(Path.of(f), Json.render(tr.spans.toSeq.map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.startMs,
          "end_ms" -> s.endMs))).getBytes(UTF_8))
    }
    opt.get("record").foreach { f =>
      Files.write(Path.of(f), Json.render(pins.observed.toSeq.map { case (k, (n, h)) =>
        k -> Seq(n, if (h == Long.MinValue) null else h)
      }.toMap).getBytes(UTF_8))
    }
    spark.stop()
  }

  /** Fixed CPU work for host-drift control: a pure-JVM loop plus one
    * `spark.range` job; best of three, in seconds. */
  def hostCalibration(spark: SparkSession): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0L
    while (i < 100000000L) { x = x * 6364136223846793005L + i; i += 1 }
    spark.range(0, 10000000L, 1, 4).selectExpr(s"sum(id * ${x & 7})").collect()
    (System.nanoTime() - t0) / 1e9
  }.min

  private def loadPins(file: String, key: String): Map[String, (Long, Option[Long])] = {
    import org.json4s._
    val all = org.json4s.jackson.JsonMethods.parse(new String(Files.readAllBytes(Path.of(file)), UTF_8))
    (all \ key) match {
      case JObject(fields) => fields.map {
        case (q, JArray(List(JInt(n), JInt(h)))) => q -> (n.toLong, Some(h.toLong))
        case (q, JArray(List(JInt(n), JNull))) => q -> (n.toLong, None)
        case (q, other) => throw new IllegalArgumentException(s"bad pin for $q: $other")
      }.toMap
      case _ => Map.empty
    }
  }
}

/** JSON for the harness's artifacts (json4s ships with Spark). */
object Json {
  def render(v: Any): String = org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)
}

/** Per-layer metrics of one measured pass, from the spans, listeners
  * and executed plans the traced run collected. */
object Layers {
  /** Physical node types whose SQLMetrics are reported as `exec.op.*`. */
  val nodeTypes: Seq[String] = Seq("WholeStageCodegen", "FileSourceScan", "HashAggregate",
    "ObjectHashAggregate", "ShuffleExchange", "BroadcastExchange", "Sort", "SortMergeJoin",
    "BroadcastHashJoin", "Window", "Generate", "InMemoryTableScan")

  def forPass(p: PassRec, spans: Seq[Span], exec: ExecListener, stream: StreamListener,
      writes: WriteListener, plans: Map[Int, SparkPlan], cores: Int): Seq[(String, Double, String)] = {
    val byId = spans.map(s => s.id -> s).toMap
    val pass = byId(p.spanId)
    def inPass(id: Int): Boolean =
      Iterator.iterate(id)(i => byId.get(i).map(_.parent).getOrElse(0)).takeWhile(_ != 0).contains(p.spanId)
    val mine = spans.filter(s => inPass(s.id))
    def sum(name: String): Double = mine.filter(_.name == name).map(_.seconds).sum

    val jobs = exec.jobs.values.asScala.toSeq.filter { j =>
      j.group.map(inPass).getOrElse(pass.covers(j.startMs.toDouble))
    }
    val constructJobs = jobs.count(j => j.group.exists(g => byId.get(g).exists(_.name == "SparkEntry.construct")))
    val intervals = jobs.map(j => (j.startMs.toDouble, math.max(j.endMs, j.startMs).toDouble)).sortBy(_._1)
    val busyMs = intervals.foldLeft((0.0, Double.MinValue)) { case ((acc, end), (s, e)) =>
      if (s >= end) (acc + e - s, e) else if (e > end) (acc + e - end, e) else (acc, end)
    }._1
    val jobMs = intervals.map { case (s, e) => e - s }.sum

    val nodes = p.ops.flatMap(o => plans.get(o.spanId)).flatMap(graft.tools.PlanWalk.collectAll)
    def nodeTime(n: SparkPlan): Double = n.metrics.values.map { m =>
      m.metricType match {
        case "timing" => m.value / 1e3
        case "nsTiming" => m.value / 1e9
        case _ => 0.0
      }
    }.sum
    def nodeRows(n: SparkPlan): Double = n.metrics.get("numOutputRows").map(_.value.toDouble).getOrElse(0.0)
    val ops = nodeTypes.flatMap { t =>
      val ns = nodes.filter(_.getClass.getSimpleName.stripSuffix("Exec") == t)
      Seq((s"exec.op.$t.time_s", ns.map(nodeTime).sum, "s"), (s"exec.op.$t.rows", ns.map(nodeRows).sum, "rows"))
    }

    val progress = stream.progress.asScala.toSeq.filter(g => pass.covers(g.startMs))
    def dur(k: String): Double = progress.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val extractS = sum("ExtractIncrement")
    val catWrites = writes.writes.asScala.toSeq.filter(c => pass.covers(c.startMs))
    val exchanges = p.ops.flatMap(o => plans.get(o.spanId)).map(graft.tools.PlanWalk.shuffleCount).sum
    // exec time of the operations whose collected plan calls a compiled kernel
    def callsKernel(plan: SparkPlan): Boolean = graft.tools.PlanWalk.collectAll(plan)
      .exists(_.expressions.exists(_.exists(_.getClass.getName.startsWith("graft.functions."))))
    val kernelOps = p.ops.filter(o => plans.get(o.spanId).exists(callsKernel)).map(_.spanId).toSet
    val kernelExecS = mine.filter(s => s.name == "exec" && kernelOps(s.parent)).map(_.seconds).sum

    Seq(
      ("SparkEntry.construct_s", sum("SparkEntry.construct"), "s"),
      ("SparkEntry.construct_jobs", constructJobs.toDouble, "count"),
      ("plan.s", sum("plan"), "s"),
      ("plan.exchanges", exchanges.toDouble, "count"),
      ("exec.s", busyMs / 1e3, "s"),
      ("exec.jobs", jobs.size.toDouble, "count"),
      ("exec.stages", jobs.map(_.stages).sum.toDouble, "count"),
      ("exec.tasks", jobs.map(_.tasks).sum.toDouble, "count"),
      ("exec.s_per_job", if (jobs.isEmpty) 0.0 else jobMs / 1e3 / jobs.size, "s"),
      ("exec.job_concurrency", if (busyMs == 0) 0.0 else jobMs / busyMs, "jobs"),
      ("exec.slot_util", jobs.map(_.runMs).sum / 1e3 / (p.seconds * cores), "ratio"),
      ("exec.task_cpu_s", jobs.map(_.cpuNs).sum / 1e9, "s"),
      ("exec.shuffle_write_mb", jobs.map(_.shuffleWrite).sum / 1e6, "MB"),
      ("exec.shuffle_read_mb", jobs.map(_.shuffleRead).sum / 1e6, "MB"),
      ("exec.spill_mb", jobs.map(_.spill).sum / 1e6, "MB"),
      ("exec.gc_s", jobs.map(_.gcMs).sum / 1e3, "s"),
      ("exec.failed_tasks", jobs.map(_.failedTasks).sum.toDouble, "count"),
      ("functions.exec_s", kernelExecS, "s"),
      ("catalog.write_s", catWrites.map(_.seconds).sum, "s"),
      ("catalog.writes", catWrites.size.toDouble, "count"),
      ("catalog.write_amp", if (p.inputBytes == 0) 0.0 else catWrites.map(_.bytes).sum.toDouble / p.inputBytes, "ratio"),
      ("catalog.merge_s", sum("catalog.merge"), "s"),
      ("catalog.compact_s", sum("catalog.compact"), "s"),
      ("catalog.vacuum_s", sum("catalog.vacuum"), "s"),
      ("catalog.read_s", sum("catalog.read") + sum("catalog.read_range") + sum("catalog.latest"), "s"),
      ("catalog.diff_s", sum("catalog.diff"), "s"),
      ("streaming.epochs", progress.count(_.rows > 0).toDouble, "count"),
      ("streaming.start_s", math.max(0.0, extractS - dur("triggerExecution") / 1e3), "s"),
      ("streaming.trigger_ms", dur("triggerExecution"), "ms"),
      ("streaming.add_batch_ms", dur("addBatch"), "ms"),
      ("streaming.query_planning_ms", dur("queryPlanning"), "ms"),
      ("streaming.wal_commit_ms", dur("walCommit"), "ms"),
      ("streaming.latest_offset_ms", dur("latestOffset"), "ms"),
      ("sources.jsonl_rows_per_s", if (extractS == 0) 0.0 else progress.map(_.rows).sum / extractS, "rows/s"),
      ("pipeline.step_s.ExtractIncrement", extractS, "s"),
      ("pipeline.step_s.Upsert", sum("Upsert"), "s"),
      ("pipeline.step_s.Publish", sum("Publish"), "s"),
      ("pipeline.status_write_s", sum("pipeline.status_write"), "s")) ++ ops
  }
}
