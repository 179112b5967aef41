package graft.catalog

import graft.SparkSpec
import org.apache.spark.sql.types.StructType

/** Catalog semantics per arbirk/ETL-template tools/tools.go:343-444:
  * next = max+1, latest = max, specific-version time travel, error on
  * missing step/version, immutability of committed versions. */
class VersionedCatalogSpec extends SparkSpec {

  private def df(ids: Int*) = {
    val s = spark
    import s.implicits._
    ids.toDF("id")
  }

  private val schema = StructType.fromDDL("id INT")

  test("versions start at 1 and increment (max+1)") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString)
      assert(cat.nextVersion("step") == 1)
      assert(cat.writeNext("step", df(1, 2)) == 1)
      assert(cat.writeNext("step", df(3)) == 2)
      assert(cat.nextVersion("step") == 3)
      assert(cat.versions("step") == Seq(1, 2))
    }
  }

  test("racing writers both commit, to distinct versions, with no nesting") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString)
      // each writer carries a distinct payload so a nested/clobbered
      // version is detectable from its contents, not just its count
      val writers = 6
      val rounds = 4
      val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
      try {
        val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
        val fs = (0 until writers).map { w =>
          scala.concurrent.Future {
            (0 until rounds).map { r =>
              val payload = w * 100 + r
              payload -> cat.writeNext("race", df(payload))
            }
          }(ec)
        }
        val commits = fs.flatMap(f => scala.concurrent.Await
          .result(f, scala.concurrent.duration.Duration(300, "s")))
        // every write committed, and no two writers share a version
        assert(commits.size == writers * rounds)
        assert(commits.map(_._2).distinct.size == commits.size,
          "two racing writers were handed the same version")
        // the committed version set is exactly what the catalog lists
        assert(cat.versions("race").toSet == commits.map(_._2).toSet)
        // no nesting or cross-contamination: each version holds exactly
        // its writer's single payload row
        commits.foreach { case (payload, v) =>
          val rows = cat.read("race", v, Some(schema)).collect().map(_.getInt(0))
          assert(rows.toSeq == Seq(payload),
            s"version $v holds ${rows.mkString(",")}, expected $payload")
        }
        // nothing left behind in staging (every writer promoted)
        assert(cat.vacuumStaging() == 0)
      } finally pool.shutdown()
    }
  }

  test("diff classifies inserts/deletes/updates row-wise; unchanged keys do not flow") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString)
      val sch = StructType.fromDDL("id INT, v STRING")
      cat.writeNext("t", Seq((1, "a"), (2, "b"), (3, "c"),
        (4, null: String)).toDF("id", "v"))
      cat.writeNext("t", Seq((2, "b"), (3, "C"), (4, "d"),
        (5, "e")).toDF("id", "v"))
      val rows = cat.diff("t", 1, 2, Seq("id"), Some(sch)).collect()
      val d = rows.map(r => r.getInt(0) -> r.getString(1)).toMap
      // null → value classifies as update (row-wise compare, not key-only);
      // id 2 is identical both sides and must be absent
      assert(d == Map(1 -> "delete", 3 -> "update", 4 -> "update", 5 -> "insert"))
      // old/new structs carry the full rows for downstream consumers
      val upd3 = rows.find(_.getInt(0) == 3).get
      assert(upd3.getStruct(2).getString(1) == "c" &&
        upd3.getStruct(3).getString(1) == "C")
      // delete rows have no new side; insert rows no old side
      assert(rows.find(_.getInt(0) == 1).get.isNullAt(3))
      assert(rows.find(_.getInt(0) == 5).get.isNullAt(2))
      // schema drift between the compared versions fails fast
      cat.writeNext("u", Seq((1, "a")).toDF("id", "v"))
      cat.writeNext("u", Seq((1, "a", 2.0)).toDF("id", "v", "w"))
      intercept[IllegalArgumentException](cat.diff("u", 1, 2, Seq("id")))
    }
  }

  test("latest resolves the highest version") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString)
      cat.writeNext("step", df(1))
      cat.writeNext("step", df(10, 20))
      val rows = cat.latest("step", Some(schema)).collect().map(_.getInt(0)).sorted
      assert(rows.toSeq == Seq(10, 20))
      assert(cat.latestVersion("step").contains(2))
    }
  }

  test("specific-version read is time travel; committed versions are immutable") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString)
      cat.writeNext("step", df(1))
      cat.writeNext("step", df(2))
      cat.writeNext("step", df(3))
      assert(cat.read("step", 1, Some(schema)).collect().map(_.getInt(0)).toSeq == Seq(1))
      assert(cat.read("step", 2, Some(schema)).collect().map(_.getInt(0)).toSeq == Seq(2))
    }
  }

  test("missing step and missing version raise (tools.go:399-404,424-426)") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString)
      intercept[NoSuchElementException](cat.latest("nope"))
      cat.writeNext("step", df(1))
      intercept[NoSuchElementException](cat.read("step", 99))
    }
  }

  test("writes stage then promote: no .staging leftovers after commit") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString)
      cat.writeNext("step", df(1, 2, 3))
      val staging = new java.io.File(s"$dir/.staging")
      assert(!staging.exists() || staging.listFiles().isEmpty)
    }
  }

  test("parquet-format catalog round-trips too") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString, format = "parquet")
      cat.writeNext("step", df(7, 8))
      assert(cat.latest("step").collect().map(_.getInt(0)).sorted.toSeq == Seq(7, 8))
    }
  }

  test("csv-format catalog with options round-trips typed rows") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString, format = "csv",
        options = Map("header" -> "true"))
      cat.writeNext("step", Seq((1, "a,b"), (2, "c\"d")).toDF("id", "name"))
      val got = cat.latest("step", Some(StructType.fromDDL("id INT, name STRING")))
        .collect().map(r => (r.getInt(0), r.getString(1))).sorted
      assert(got.toSeq == Seq((1, "a,b"), (2, "c\"d"))) // quoting survives
    }
  }

  test("merge: update rows replace, new keys insert, others carry over") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val kv = StructType.fromDDL("k INT, v STRING")
      val cat = new VersionedCatalog(spark, dir.toString)
      cat.writeNext("t", Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
      val v = cat.merge("t",
        Seq((2, "B2"), (4, "d")).toDF("k", "v"), Seq("k"), Some(kv))
      assert(v == 2)
      val got = cat.latest("t", Some(kv)).collect()
        .map(r => (r.getInt(0), r.getString(1))).sorted
      assert(got.toSeq == Seq((1, "a"), (2, "B2"), (3, "c"), (4, "d")))
      // time travel still sees the pre-merge state (CDC audit)
      val before = cat.read("t", 1, Some(kv)).collect()
        .map(r => (r.getInt(0), r.getString(1))).sorted
      assert(before.toSeq == Seq((1, "a"), (2, "b"), (3, "c")))
      // row-wise semantics: an update may null a column
      cat.merge("t", Seq((1, null: String)).toDF("k", "v"), Seq("k"), Some(kv))
      val nulled = cat.latest("t", Some(kv)).collect()
        .find(_.getInt(0) == 1).get
      assert(nulled.isNullAt(1))
      // duplicate update keys would fan out through the join: fail fast
      intercept[IllegalArgumentException](cat.merge("t",
        Seq((5, "x"), (5, "y")).toDF("k", "v"), Seq("k"), Some(kv)))
      // null-keyed update rows never join-match, so two of them are NOT
      // duplicates — each inserts independently
      val kvn = StructType.fromDDL("k INT, v STRING")
      cat.merge("t", Seq((null.asInstanceOf[Integer], "n1"),
        (null.asInstanceOf[Integer], "n2"))
        .toDF("k", "v"), Seq("k"), Some(kvn))
      val nullRows = cat.latest("t", Some(kvn)).collect()
        .filter(_.isNullAt(0)).map(_.getString(1)).sorted
      assert(nullRows.toSeq == Seq("n1", "n2"))
    }
  }

  test("partitioned write: partition-column filters prune directories at planning") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString, format = "parquet")
      val df = Seq((1L, "srcA", "x"), (2L, "srcA", "y"), (3L, "srcB", "z"))
        .toDF("id", "source", "payload")
      cat.writeNext("docs", df, partitionBy = Seq("source"))
      // hive layout on disk
      assert(new java.io.File(s"$dir/docs/v=1/source=srcA").isDirectory)
      assert(new java.io.File(s"$dir/docs/v=1/source=srcB").isDirectory)
      val filtered = cat.latest("docs")
        .filter(org.apache.spark.sql.functions.col("source") === "srcA")
      assert(filtered.count() == 2)
      // planning-time pruning: the executed scan reads only srcA's
      // partition (inputFiles can't show this — it lists the relation
      // pre-pruning)
      import org.apache.spark.sql.execution.FileSourceScanExec
      def descend(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val here = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            descend(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            descend(q.plan)
          case _ => Seq(p)
        }
        here ++ p.children.flatMap(descend)
      }
      val probe = cat.latest("docs")
        .filter(org.apache.spark.sql.functions.col("source") === "srcA")
      probe.collect()
      val scan = descend(probe.queryExecution.executedPlan)
        .collectFirst { case f: FileSourceScanExec => f }.get
      assert(scan.metadata("PartitionFilters").contains("source"))
      val totalFiles = cat.latest("docs").inputFiles.length
      assert(scan.metrics("numFiles").value < totalFiles)
      // full read recovers everything (partition col appended on read)
      assert(cat.latest("docs").count() == 3)
    }
  }

  test("sorted write: files hold contiguous disjoint key ranges for stat skipping") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString, format = "parquet")
      val df = (1 to 1000).map(i => ((i * 379) % 1000, s"p$i")).toDF("k", "p")
      cat.writeNextSorted("t", df, Seq("k"), numFiles = 4)
      val files = cat.latest("t").inputFiles
      assert(files.length == 4)
      val ranges = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(org.apache.spark.sql.functions.min("k"),
            org.apache.spark.sql.functions.max("k")).head()
        (r.getInt(0), r.getInt(1))
      }.sortBy(_._1)
      // contiguous and disjoint: every file's min exceeds the previous max
      ranges.sliding(2).foreach {
        case Array((_, hi1), (lo2, _)) => assert(lo2 > hi1)
        case _ =>
      }
      assert(cat.latest("t").count() == 1000)
    }
  }

  test("manifest key ranges prune FILES: a point readRange opens only the matching file") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString, format = "parquet")
      val df = (1 to 1000).map(i => ((i * 379) % 1000, s"p$i")).toDF("k", "p")
      cat.writeNextSorted("t", df, Seq("k"), numFiles = 4)
      // every data file carries a recorded int64 range for the key
      val m = cat.manifest("t", 1).getOrElse(fail("no manifest"))
      assert(m.files.length == 4)
      m.files.foreach { case (n, _) =>
        assert(m.stats.get(n).exists(_.contains("k")),
          s"file $n has no recorded range for k")
      }
      // recorded ranges are disjoint (sorted-write construction)
      val ranges = m.files.map { case (n, _) => m.stats(n)("k") }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Seq((_, hi1), (lo2, _)) => assert(lo2 > hi1)
        case _ =>
      }
      // the files-opened metric: full read plans 4 files, a point
      // readRange plans exactly the ONE file whose range covers the key
      assert(cat.read("t", 1).inputFiles.length == 4)
      val point = cat.readRange("t", 1, "k", 500, 500)
      assert(point.inputFiles.length == 1,
        s"point read planned ${point.inputFiles.length} files")
      // and a range straddling two files plans exactly those two
      val bounds = ranges.map(_._2)
      val straddle = cat.readRange("t", 1, "k", bounds(0), bounds(0) + 1)
      assert(straddle.inputFiles.length == 2)
      // correctness unchanged: readRange == read + filter, row for row
      assert(point.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
        cat.read("t", 1).filter($"k" === 500)
          .collect().map(r => (r.getInt(0), r.getString(1))).toSet)
      // an out-of-domain probe prunes everything and returns empty
      assert(cat.readRange("t", 1, "k", 5000, 6000).count() == 0)
      // versions written WITHOUT statsCols keep no ranges and never prune
      cat.writeNext("u", df)
      val mu = cat.manifest("u", 1).getOrElse(fail("no manifest"))
      assert(mu.stats.isEmpty)
      assert(cat.readRange("u", 1, "k", 500, 500).inputFiles.length ==
        cat.read("u", 1).inputFiles.length)
      assert(cat.readRange("u", 1, "k", 500, 500).count() == 1)
    }
  }

  test("z-ordered manifest ranges prune on EITHER key column") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString, format = "parquet")
      // 32x32 grid: Morton order gives each of 4 files a quadrant, so
      // both x and y ranges are bounded per file
      val df = (for (x <- 0 until 32; y <- 0 until 32) yield (x, y))
        .toDF("x", "y")
      cat.writeNextZOrdered("t", df, "x", "y", numFiles = 4)
      val m = cat.manifest("t", 1).getOrElse(fail("no manifest"))
      m.files.foreach { case (n, _) =>
        assert(m.stats.get(n).exists(st => st.contains("x") && st.contains("y")))
      }
      val all = cat.read("t", 1).inputFiles.length
      assert(all == 4)
      // a quadrant-corner probe on EITHER axis opens fewer files
      assert(cat.readRange("t", 1, "x", 0, 0).inputFiles.length < all)
      assert(cat.readRange("t", 1, "y", 31, 31).inputFiles.length < all)
      assert(cat.readRange("t", 1, "x", 0, 0).count() == 32)
      assert(cat.readRange("t", 1, "y", 31, 31).count() == 32)
    }
  }

  test("sorted write prunes ROW GROUPS on a key predicate; blooms in the footer") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString, format = "parquet")
      // 200k rows into 2 files with ~64 KiB row groups → many row
      // groups per file, each covering a narrow disjoint key range
      val df = (1 to 200000).map(i => ((i * 7919) % 200000, i.toLong))
        .toDF("k", "v")
      cat.writeNextSorted("t", df, Seq("k"), numFiles = 2,
        rowGroupBytes = Some(64L * 1024))
      // footer check: every data file carries min/max stats AND a bloom
      // filter on the key column (the option must reach the writer)
      val conf = spark.sparkContext.hadoopConfiguration
      cat.manifest("t", 1).get.files.foreach { case (name, _) =>
        val p = new org.apache.hadoop.fs.Path(s"$dir/t/v=1/$name")
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        try {
          val blocks = reader.getFooter.getBlocks
          assert(blocks.size() > 3, s"$name: expected many row groups, got ${blocks.size()}")
          blocks.forEach { b =>
            import scala.jdk.CollectionConverters._
            val kCol = b.getColumns.asScala
              .find(_.getPath.toDotString == "k").get
            assert(kCol.getStatistics != null && !kCol.getStatistics.isEmpty,
              s"$name: no column stats")
            assert(kCol.getBloomFilterOffset >= 0,
              s"$name: no bloom filter on the key column")
          }
        } finally reader.close()
      }
      // behavior check: a point read materializes only the surviving
      // row groups — the SCAN's output rows (pre-Filter, record-level
      // parquet filtering off by default) must be far below the corpus
      import org.apache.spark.sql.execution.FileSourceScanExec
      def descend(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val here = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            descend(a.executedPlan)
          case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            descend(q.plan)
          case _ => Seq(p)
        }
        here ++ p.children.flatMap(descend)
      }
      val probe = cat.latest("t")
        .filter(org.apache.spark.sql.functions.col("k") === 12345)
      assert(probe.count() == 1)
      probe.collect()
      val scan = descend(probe.queryExecution.executedPlan)
        .collectFirst { case f: FileSourceScanExec => f }.get
      assert(scan.metadata("PushedFilters").contains("k"),
        "key predicate did not push to the parquet scan")
      val scanned = scan.metrics("numOutputRows").value
      assert(scanned < 20000,
        s"scan materialized $scanned of 200000 rows — row groups not skipped")
    }
  }

  test("z-ordered write: every file covers a bounded rectangle of BOTH key columns") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString, format = "parquet")
      val grid = (for { x <- 0 until 64; y <- 0 until 64 } yield (x, y, s"$x-$y"))
        .toDF("x", "y", "p")
      cat.writeNextZOrdered("zt", grid, "x", "y", numFiles = 16)
      def spans(step: String, c: String): Seq[Long] =
        cat.latest(step).inputFiles.toSeq.map { f =>
          val r = spark.read.parquet(f)
            .agg(org.apache.spark.sql.functions.max(c).cast("long")
              - org.apache.spark.sql.functions.min(c).cast("long")).head()
          r.getLong(0)
        }
      assert(cat.latest("zt").inputFiles.length == 16)
      val (xs, ys) = (spans("zt", "x"), spans("zt", "y"))
      // 16 z-order files over a 64×64 grid ≈ 16×16-ish rectangles: both
      // dimensions stay well under the global span of 63
      assert(xs.sum.toDouble / xs.size < 32, s"x spans: $xs")
      assert(ys.sum.toDouble / ys.size < 32, s"y spans: $ys")
      // contrast: single-key sort clustering leaves the OTHER column
      // unbounded — every file spans ~the full y range
      cat.writeNextSorted("st", grid, Seq("x"), numFiles = 16)
      val ysSorted = spans("st", "y")
      assert(ysSorted.sum.toDouble / ysSorted.size > 55, s"y spans: $ysSorted")
      // content round-trips
      assert(cat.latest("zt").count() == 64L * 64L)
    }
  }

  test("compact rewrites the latest version into fewer files, content-equal") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString, format = "parquet")
      cat.writeNext("t", df(1 to 100: _*).repartition(8))
      def files(v: Int) = new java.io.File(s"$dir/t/v=$v").listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      assert(files(1) == 8)
      val v = cat.compact("t", Some(schema))
      assert(v == 2 && files(2) == 1) // 100 ints ≪ targetBytes → one file
      val got = cat.latest("t", Some(schema)).collect().map(_.getInt(0)).sorted
      assert(got.toSeq == (1 to 100))
    }
  }

  test("compact carries the source version's epoch tag forward") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString, format = "parquet")
      cat.writeNext("t", df(1, 2), epochTag = Some(7L))
      assert(cat.versionEpochTag("t", 1) == Some(7L))
      val v = cat.compact("t", Some(schema))
      // the tag must ride the rewrite: dropping it would reopen the
      // streaming sketch sinks' replay window (EventPipelines.foldEpoch)
      assert(cat.versionEpochTag("t", v) == Some(7L))
      assert(cat.latestVersion("t").contains(v))
    }
  }

  test("maxEpochTag survives an untagged rewrite of the latest version") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString)
      cat.writeNext("t", df(1), epochTag = Some(3L))
      cat.writeNext("t", df(2)) // untagged republish: the latest version has no tag
      assert(cat.versionEpochTag("t", 2).isEmpty)
      assert(cat.maxEpochTag("t") == Some(3L))
    }
  }

  test("stray non-numeric _epoch_ files are ignored, not fatal") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString)
      cat.writeNext("t", df(1), epochTag = Some(5L))
      // a foreign marker sharing the prefix must not crash the parse
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(s"$dir/t/v=1/_epoch_notanumber"))
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(s"$dir/t/v=1/_epoch_"))
      assert(cat.versionEpochTag("t", 1) == Some(5L))
      assert(cat.maxEpochTag("t") == Some(5L))
    }
  }

  test("vacuum keeps the newest k versions and deletes the rest") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString)
      (1 to 4).foreach(i => cat.writeNext("t", df(i)))
      assert(cat.vacuum("t", keep = 2) == Seq(1, 2))
      assert(cat.versions("t") == Seq(3, 4))
      assert(cat.read("t", 3, Some(schema)).collect().map(_.getInt(0)).toSeq == Seq(3))
      intercept[NoSuchElementException](cat.read("t", 1, Some(schema)))
      intercept[IllegalArgumentException](cat.vacuum("t", keep = 0))
      // numbering continues after vacuum — no version reuse
      assert(cat.writeNext("t", df(9)) == 5)
    }
  }

  test("dropStep clears every version AND the claims, so a retry restarts at v1") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString)
      (1 to 3).foreach(i => cat.writeNext("t", df(i)))
      assert(cat.dropStep("t") == Seq(1, 2, 3))
      assert(cat.versions("t").isEmpty)
      // unlike vacuum, numbering RESTARTS: the build-once stores'
      // crash-retry contract is that epoch r's read-back version is r
      assert(cat.writeNext("t", df(7)) == 1)
      assert(cat.read("t", 1, Some(schema)).collect()
        .map(_.getInt(0)).toSeq == Seq(7))
      // dropping a step that never existed is a no-op
      assert(cat.dropStep("never").isEmpty)
    }
  }

  test("vacuumStaging removes crash orphans, committed versions untouched") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString)
      cat.writeNext("t", df(1))
      // simulate a crashed write: a staging dir that never got promoted
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$dir/.staging/t-v9-deadbeef"))
      assert(cat.vacuumStaging() == 1)
      assert(cat.vacuumStaging() == 0)
      assert(cat.latest("t", Some(schema)).collect().map(_.getInt(0)).toSeq == Seq(1))
    }
  }

  test("manifest round-trip: files, sizes, row count commit with the version") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString, format = "parquet")
      cat.writeNext("t", df(1, 2, 3))
      val m = cat.manifest("t", 1).getOrElse(fail("no manifest committed"))
      assert(m.format == "parquet")
      assert(m.rowCount.contains(3L))
      assert(m.nFiles == m.files.length && m.files.nonEmpty)
      assert(m.totalBytes == m.files.map(_._2).sum)
      assert(m.partitionBy.isEmpty)
      // the listed files are exactly the data files on disk
      val vdir = java.nio.file.Paths.get(dir.toString, "t", "v=1")
      m.files.foreach { case (n, bytes) =>
        val p = vdir.resolve(n)
        assert(java.nio.file.Files.exists(p), s"manifest names missing file $n")
        assert(java.nio.file.Files.size(p) == bytes, s"size drift for $n")
      }
      // and the manifest-resolved read returns the same rows
      assert(cat.read("t", 1, Some(schema)).collect().map(_.getInt(0)).sorted
        .toSeq == Seq(1, 2, 3))
    }
  }

  test("manifest read pins the committed snapshot against stray files") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString, format = "parquet")
      cat.writeNext("t", df(1, 2))
      // a stray parquet file lands in the version dir AFTER commit (a
      // crashed foreign writer, an object-store anomaly): the manifest
      // read must not widen the snapshot to include it
      val strayDir = java.nio.file.Files.createTempDirectory("stray")
      df(99).coalesce(1).write.mode("overwrite").parquet(strayDir.toString)
      val strayPart = java.nio.file.Files.list(strayDir).iterator()
      val part = Iterator.continually(strayPart)
        .flatMap(it => if (it.hasNext) Some(it.next()) else None)
        .find(_.getFileName.toString.endsWith(".parquet")).get
      java.nio.file.Files.copy(part,
        java.nio.file.Paths.get(dir.toString, "t", "v=1", "part-stray.parquet"))
      assert(cat.read("t", 1, Some(schema)).collect().map(_.getInt(0)).sorted
        .toSeq == Seq(1, 2), "stray file leaked into the manifest snapshot")
    }
  }

  test("manifest records partition layout; partitioned read keeps pruning") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString, format = "parquet")
      val data = Seq((1, "a"), (2, "a"), (3, "b")).toDF("id", "src")
      cat.writeNext("t", data, partitionBy = Seq("src"))
      val m = cat.manifest("t", 1).getOrElse(fail("no manifest"))
      assert(m.partitionBy == Seq("src"))
      assert(m.files.forall(_._1.startsWith("src=")),
        s"partitioned files should nest under src=: ${m.files.map(_._1)}")
      // basePath keeps the partition column parsing on the manifest path
      val got = cat.read("t", 1)
      assert(got.columns.contains("src"))
      assert(got.filter(org.apache.spark.sql.functions.col("src") === "a")
        .count() == 2)
    }
  }

  test("compact and merge write manifests too; vacuum removes them with the version") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString, format = "parquet")
      cat.writeNext("t", df((1 to 500): _*))
      cat.compact("t", Some(schema))
      val m2 = cat.manifest("t", 2).getOrElse(fail("compacted version has no manifest"))
      assert(m2.rowCount.contains(500L))
      assert(cat.read("t", 2, Some(schema)).count() == 500)
      cat.vacuum("t", keep = 1)
      assert(cat.manifest("t", 1).isEmpty, "vacuumed version's manifest must go with it")
      assert(cat.manifest("t", 2).nonEmpty)
    }
  }

  test("a damaged manifest degrades to directory listing, never lies") {
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString, format = "parquet")
      cat.writeNext("t", df(4, 5))
      val mf = java.nio.file.Paths.get(dir.toString, "t", "v=1", "_manifest.json")
      java.nio.file.Files.write(mf, "{corrupt".getBytes("UTF-8"))
      assert(cat.manifest("t", 1).isEmpty)
      assert(cat.read("t", 1, Some(schema)).collect().map(_.getInt(0)).sorted
        .toSeq == Seq(4, 5))
    }
  }

  test("schema evolution: an old version reads under a widened schema with nulls") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val cat = new VersionedCatalog(spark, dir.toString)
      cat.writeNext("t", Seq((1, "a")).toDF("id", "name"))
      val widened = StructType.fromDDL("id INT, name STRING, score DOUBLE")
      val row = cat.read("t", 1, Some(widened)).collect().head
      assert(row.getInt(0) == 1 && row.getString(1) == "a" && row.isNullAt(2))
    }
  }
}
